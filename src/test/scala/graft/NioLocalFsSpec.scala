package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/** The fork-free local filesystem against stock Hadoop on temp files; no
  * streaming query runs here. */
class NioLocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _
  private val stock = new RawLocalFileSystem
  private val nio = new NioRawLocalFileSystem

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[4]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Seq(stock, nio).foreach(_.initialize(URI.create("file:///"), new Configuration()))
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def withTempDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("nio-local-fs")
    try body(dir) finally stock.delete(new Path(dir.toUri), true)
  }

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)
  private def perms(p: JPath) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def mode(p: JPath) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  private def linkStatus(fs: FileSystem, p: Path): Either[Class[_], (Boolean, Boolean, Long, Option[Path], Path)] =
    try {
      val s: FileStatus = fs.getFileLinkStatus(p)
      Right((s.isFile, s.isSymlink, s.getLen, if (s.isSymlink) Some(s.getSymlink) else None, s.getPath))
    } catch { case e: FileNotFoundException => Left(e.getClass) }

  test("create and mkdirs set the same mode bits as stock Hadoop") {
    withTempDir { dir =>
      for ((name, fs) <- Seq("stock" -> stock, "nio" -> nio)) {
        val f = dir.resolve(s"$name.bin")
        fs.create(new Path(f.toString), octal("640"), false, 4096, 1.toShort, 1L << 20, null).close()
        val d = dir.resolve(s"$name.d")
        assert(fs.mkdirs(new Path(d.toString), octal("750")))
      }
      for (suffix <- Seq(".bin", ".d"))
        assert(perms(dir.resolve("nio" + suffix)) == perms(dir.resolve("stock" + suffix)), suffix)
      assert(perms(dir.resolve("nio.bin")) == "rw-r-----")
      assert(perms(dir.resolve("nio.d")) == "rwxr-x---")
    }
  }

  test("FileContext mkdir, create and a masked/unmasked setPermission match stock") {
    withTempDir { dir =>
      val fc = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
      val d = new Path(dir.resolve("d").toString)
      fc.mkdir(d, octal("750"), false)
      val f = new Path(d, "f")
      fc.create(f, EnumSet.of(CreateFlag.CREATE), CreateOpts.perms(octal("640"))).close()
      assert(perms(dir.resolve("d")) == "rwxr-x---")
      assert(perms(dir.resolve("d/f")) == "rw-r-----")
      // `FileContext` hands an `FsCreateModes` through unchanged; its toString is not rwx
      val masked = FsCreateModes.create(octal("600"), octal("644"))
      fc.setPermission(f, masked)
      val s = dir.resolve("stock")
      Files.createFile(s)
      stock.setPermission(new Path(s.toString), masked)
      assert(perms(dir.resolve("d/f")) == perms(s))
      assert(perms(s) == "rw-------")
    }
  }

  test("a sticky-bit mode keeps the sticky bit") {
    withTempDir { dir =>
      val sticky = octal("1777")
      for ((name, fs) <- Seq("stock" -> stock, "nio" -> nio)) {
        val d = new Path(dir.resolve(name).toString)
        assert(fs.mkdirs(d, sticky))
        fs.setPermission(d, sticky)
      }
      assert(mode(dir.resolve("nio")) == mode(dir.resolve("stock")))
      assert(mode(dir.resolve("nio")) == sticky.toShort)
    }
  }

  test("getFileLinkStatus matches stock on a file, a symlink, a dangling symlink and a missing path") {
    withTempDir { dir =>
      val file = Files.write(dir.resolve("file.txt"), "x".getBytes(UTF_8))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      for (p <- Seq(file, link, dangling, dir.resolve("missing")).map(p => new Path(p.toString)))
        assert(linkStatus(nio, p) == linkStatus(stock, p), p)
      val l = nio.getFileLinkStatus(new Path(link.toString))
      assert(l.isSymlink && l.getSymlink.toUri.getPath == file.toString)
      assert(linkStatus(nio, new Path(dir.resolve("missing").toString)) == Left(classOf[FileNotFoundException]))
    }
  }

  test("createAtomic then an overwrite leaves the new bytes and a valid .crc") {
    withTempDir { dir =>
      val conf = spark.sessionState.newHadoopConf()
      val target = new Path(dir.resolve("0").toUri)
      val cfm = CheckpointFileManager.create(target.getParent, conf)
      for ((bytes, overwrite) <- Seq("first" -> false, "second, longer" -> true)) {
        val out = cfm.createAtomic(target, overwrite)
        out.write(bytes.getBytes(UTF_8))
        out.close()
      }
      assert(Files.exists(dir.resolve(".0.crc")))
      // a checksummed read fails on a stale or missing .crc
      val in = FileSystem.get(target.toUri, conf).open(target)
      try assert(new String(in.readAllBytes(), UTF_8) == "second, longer") finally in.close()
      assert(Files.readString(dir.resolve("0")) == "second, longer")
    }
  }

  test("the session's file: FileSystem and FileContext are the fork-free ones") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.getClass == classOf[NioLocalFs])
  }
}
