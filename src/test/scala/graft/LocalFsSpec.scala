package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** Parity of graft's fork-free local filesystem with Hadoop's stock one:
  * every operation runs on both, and both must give the same result.
  */
class LocalFsSpec extends AnyFunSuite {

  /** One filesystem family: raw, checksummed and the `FileContext` side. */
  private case class Side(name: String, raw: FileSystem, local: FileSystem, fc: FileContext)

  private def sides(umask: String = "022"): Seq[Side] = {
    def conf(afs: Option[String]) = {
      val c = new Configuration()
      c.set("fs.permissions.umask-mode", umask)
      afs.foreach(c.set("fs.AbstractFileSystem.file.impl", _))
      c
    }
    def init(fs: FileSystem, c: Configuration) = { fs.initialize(URI.create("file:///"), c); fs }
    val stock = conf(None)
    val graft = conf(Some(classOf[NioLocalFs].getName))
    Seq(
      Side("stock", init(new RawLocalFileSystem, stock), init(new LocalFileSystem, stock),
        FileContext.getFileContext(stock)),
      Side("graft", init(new NioRawLocalFileSystem, graft), init(new NioLocalFileSystem, graft),
        FileContext.getFileContext(graft)))
  }

  /** Full mode bits (sticky included), e.g. "644". */
  private def mode(p: Path): String =
    (Files.getAttribute(Paths.get(p.toUri.getPath), "unix:mode").asInstanceOf[Int] & 0x0fff).toOctalString

  private def tmp(prefix: String): Path = new Path(Files.createTempDirectory(prefix).toString)

  /** `f` once per side, each in its own fresh directory; both must agree. */
  private def sameOnBoth[A](sides: Seq[Side])(f: (Side, Path) => A): A = {
    val Seq(stock, graft) = sides.map(s => f(s, tmp(s"localfs_${s.name}")))
    assert(graft === stock)
    graft
  }

  test("the FileContext side resolves to graft's classes") {
    val graft = sides().last
    assert(graft.fc.getDefaultFileSystem.getClass === classOf[NioLocalFs])
    assert(sides().head.fc.getDefaultFileSystem.getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
  }

  for (umask <- Seq("022", "077")) test(s"permissions after create, mkdirs and setPermission match Hadoop's (umask $umask)") {
    val modes = sameOnBoth(sides(umask)) { (s, dir) =>
      val f = new Path(dir, "a/b/file")
      s.raw.create(f).close()
      s.local.create(new Path(dir, "c/sum")).close()
      s.fc.create(new Path(dir, "d/ctx"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        Options.CreateOpts.createParent()).close()
      s.fc.mkdir(new Path(dir, "e/f"), FsPermission.getDirDefault, true)
      s.raw.mkdirs(new Path(dir, "g/h"))
      val created = Seq("a", "a/b", "a/b/file", "c", "c/sum", "c/.sum.crc", "d", "d/ctx",
        "d/.ctx.crc", "e", "e/f", "g", "g/h").map(r => r -> mode(new Path(dir, r)))
      val set = Seq(0x180, 0x1a4, 0x1c0, 0x1ed).map { m => // 0600, 0644, 0700, 0755
        s.raw.setPermission(f, new FsPermission(m.toShort))
        mode(f)
      }
      (created, set)
    }
    val (file, dirMode) = if (umask == "022") ("644", "755") else ("600", "700")
    assert(modes._1.toMap.values.toSet === Set(file, dirMode))
    assert(modes._1.toMap.apply("a/b") === dirMode && modes._1.toMap.apply("d/ctx") === file)
    assert(modes._2 === Seq("600", "644", "700", "755"))
  }

  test("a sticky-bit setPermission takes Hadoop's path and ends equal") {
    assert(sameOnBoth(sides()) { (s, dir) =>
      s.raw.setPermission(dir, new FsPermission(0x3ff.toShort)) // 01777
      mode(dir)
    } === "1777")
  }

  test("getFileLinkStatus matches Hadoop's on files, dirs, symlinks and missing paths") {
    val dir = Files.createTempDirectory("localfs_links")
    val file = Files.writeString(dir.resolve("file"), "x")
    Files.createDirectory(dir.resolve("dir"))
    Files.createSymbolicLink(dir.resolve("link"), file)
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    def status(fs: FileSystem, name: String) = {
      val st = fs.getFileLinkStatus(new Path(dir.resolve(name).toString))
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
        if (st.isSymlink) Some(st.getSymlink) else None, st.getLen, st.getModificationTime)
    }
    val Seq(stock, graft) = sides()
    for (name <- Seq("file", "dir", "link", "dangling"))
      assert(status(graft.raw, name) === status(stock.raw, name), name)
    assert(status(graft.raw, "link")._4 && status(graft.raw, "dangling")._4)
    assert(status(graft.raw, "dangling")._5.get.toUri.getPath === dir.resolve("gone").toString)
    assert(!status(graft.raw, "file")._4 && status(graft.raw, "dir")._3)
    for (s <- Seq(stock, graft)) {
      intercept[FileNotFoundException](s.raw.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
      intercept[FileNotFoundException](s.fc.getFileLinkStatus(new Path(dir.resolve("missing").toString)))
      assert(!s.fc.util.exists(new Path(dir.resolve("missing").toString)))
    }
    val viaFc = sides().map(_.fc.getFileLinkStatus(new Path(dir.resolve("dangling").toString)))
    assert(viaFc.map(s => (s.isSymlink, s.getSymlink)).distinct.size === 1)
  }

  test(".crc sidecars are written, byte for byte as Hadoop writes them") {
    val body = "graft".getBytes(StandardCharsets.UTF_8)
    sameOnBoth(sides()) { (s, dir) =>
      val viaFs = s.local.create(new Path(dir, "fs"))
      viaFs.write(body); viaFs.close()
      val viaFc = s.fc.create(new Path(dir, "fc"), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      viaFc.write(body); viaFc.close()
      Seq(".fs.crc", ".fc.crc").map(c => Files.readAllBytes(Paths.get(dir.toUri.getPath, c)).toSeq)
    }
  }

  test("FileContext.rename replaces the target only with OVERWRITE") {
    sameOnBoth(sides()) { (s, dir) =>
      def write(name: String, text: String) = {
        val out = s.fc.create(new Path(dir, name), java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        out.write(text.getBytes(StandardCharsets.UTF_8)); out.close()
      }
      write("src", "new"); write("dst", "old")
      intercept[FileAlreadyExistsException](s.fc.rename(new Path(dir, "src"), new Path(dir, "dst")))
      s.fc.rename(new Path(dir, "src"), new Path(dir, "dst"), Options.Rename.OVERWRITE)
      val d = Paths.get(dir.toUri.getPath)
      (Files.readString(d.resolve("dst")), Files.exists(d.resolve("src")),
        Files.list(d).toArray.map(_.toString.stripPrefix(d.toString)).sorted.toSeq)
    }
  }
}
