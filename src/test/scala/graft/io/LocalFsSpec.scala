package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** [[ForkFreeRawLocalFileSystem]] gives the answers of stock Hadoop's
  * `RawLocalFileSystem` (which forks `chmod`/`readlink` without libhadoop),
  * and a [[graft.GraftSession]] session resolves `file:` to it through both
  * Hadoop APIs. */
class LocalFsSpec extends AnyFunSuite {

  private def pair(umask: String): Seq[(String, RawLocalFileSystem)] = {
    val conf = new Configuration(false)
    conf.set("fs.permissions.umask-mode", umask)
    Seq("stock" -> new RawLocalFileSystem, "graft" -> new ForkFreeRawLocalFileSystem)
      .map { case (tag, fs) => fs.initialize(URI.create("file:///"), conf); tag -> fs }
  }

  private def mode(p: String): Int = Files.getAttribute(Paths.get(p), "unix:mode",
    LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & oct("7777")

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  test("created files and directories get stock Hadoop's mode bits") {
    for ((umask, fileMode, dirMode) <- Seq(("022", "644", "755"), ("027", "640", "750"))) {
      val root = Files.createTempDirectory("graft-localfs-").toString
      val modes = pair(umask).map { case (tag, fs) =>
        fs.create(new Path(s"$root/$tag.file")).close()
        assert(fs.mkdirs(new Path(s"$root/$tag.dir/sub")))
        tag -> Seq(mode(s"$root/$tag.file"), mode(s"$root/$tag.dir"),
          mode(s"$root/$tag.dir/sub"))
      }.toMap
      assert(modes("graft") === modes("stock"), s"umask $umask")
      assert(modes("graft") === Seq(fileMode, dirMode, dirMode).map(oct), s"umask $umask")
    }
  }

  test("setPermission matches chmod, the sticky bit through the fallback") {
    val root = Files.createTempDirectory("graft-localfs-").toString
    for ((tag, fs) <- pair("022")) {
      val f = new Path(s"$root/$tag.file")
      val d = new Path(s"$root/$tag.dir")
      fs.create(f).close()
      assert(fs.mkdirs(d))
      for (bits <- Seq("640", "755", "0")) {
        fs.setPermission(f, new FsPermission(oct(bits).toShort))
        assert(mode(f.toString) === oct(bits), s"$tag file $bits")
      }
      for (bits <- Seq("1777", "755")) {
        fs.setPermission(d, new FsPermission(oct(bits).toShort))
        assert(mode(d.toString) === oct(bits), s"$tag dir $bits")
      }
    }
  }

  test("getFileLinkStatus: file, symlink, dangling symlink and missing path") {
    val root = Files.createTempDirectory("graft-localfs-").toString
    Files.writeString(Paths.get(s"$root/file"), "twelve bytes")
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(s"$root/file"))
    Files.createSymbolicLink(Paths.get(s"$root/dangling"), Paths.get(s"$root/gone"))
    val fss = pair("022").toMap
    def status(fs: RawLocalFileSystem, p: Path) =
      try {
        val st = fs.getFileLinkStatus(p)
        Right((st.isFile, st.isDirectory, st.isSymlink, st.getLen,
          if (st.isSymlink) st.getSymlink.toString else "", st.getPath.toString))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    // bare paths and qualified `file:` paths (what FileContext passes)
    for (name <- Seq("file", "link", "dangling", "missing");
         p <- Seq(new Path(s"$root/$name"), new Path(s"file:$root/$name"))) {
      val stock = status(fss("stock"), p)
      assert(status(fss("graft"), p) === stock, s"$p")
      if (!p.toString.startsWith("file:")) name match {
        case "file" => assert(stock.exists(s => s._1 && s._4 == 12))
        case "missing" => assert(stock === Left(classOf[FileNotFoundException]))
        case _ => assert(stock.exists(_._3), s"$p is a symlink")
      }
    }
  }

  test("a GraftSession session binds file: to the fork-free classes") {
    val conf = SparkSpec.spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.getClass === classOf[LocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRawFileSystem.getClass
      === classOf[ForkFreeRawLocalFileSystem])
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass === classOf[LocalFs])

    // both keep .crc checksums, and FileContext's overwriting rename (the
    // checkpoint commit) works
    val root = Files.createTempDirectory("graft-localfs-").toString
    fs.create(new Path(s"$root/a")).close()
    assert(Files.exists(Paths.get(s"$root/.a.crc")))
    val out = fc.create(new Path(s"file:$root/b.tmp"),
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
    out.write(1); out.close()
    assert(Files.exists(Paths.get(s"$root/.b.tmp.crc")))
    fc.rename(new Path(s"file:$root/b.tmp"), new Path(s"file:$root/a"),
      Options.Rename.OVERWRITE)
    assert(Files.size(Paths.get(s"$root/a")) === 1)
    assert(!Files.exists(Paths.get(s"$root/b.tmp")))
  }
}
