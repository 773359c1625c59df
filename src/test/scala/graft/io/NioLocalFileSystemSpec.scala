package graft.io

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}

import graft.SparkSpecBase

/** [[NioRawLocalFileSystem]] against the stock `RawLocalFileSystem` as the
  * reference, on the same files. */
class NioLocalFileSystemSpec extends SparkSpecBase {

  private def sessionConf: Configuration = spark.sessionState.newHadoopConf()

  /** The stock and the graft raw file system, in that order. */
  private def raws(conf: Configuration): Seq[RawLocalFileSystem] =
    Seq(new RawLocalFileSystem, new NioRawLocalFileSystem).map { fs =>
      fs.initialize(URI.create("file:///"), conf); fs
    }

  /** Permission bits and the sticky bit, in octal. */
  private def mode(p: JPath): String =
    (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x3ff).toOctalString

  /** Every field a caller can read, or the exception's class. */
  private def describe(status: => FileStatus): Either[String, Seq[Any]] =
    Try(status).toEither.left.map(_.getClass.getName).map { st =>
      Seq(st.getPath, st.isFile, st.isDirectory, st.isSymlink, st.getLen,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, if (st.isSymlink) st.getSymlink else None)
    }

  test("created files, mkdirs directories and a sticky directory get the stock mode bits") {
    // 077 differs from a usual process umask, so the bits must come from setPermission
    for (umask <- Seq(f"${FsPermission.getUMask(sessionConf).toShort}%03o", "077")) {
      val dir = Files.createTempDirectory("graft_fs_mode")
      val conf = new Configuration(sessionConf)
      conf.set(FsPermission.UMASK_LABEL, umask)
      val modes = raws(conf).zipWithIndex.map { case (fs, i) =>
        val file = dir.resolve(s"file$i")
        val sub = dir.resolve(s"dir$i")
        val sticky = dir.resolve(s"sticky$i")
        fs.create(new Path(file.toUri)).close()
        assert(fs.mkdirs(new Path(sub.toUri),
          FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(conf))))
        assert(fs.mkdirs(new Path(sticky.toUri)))
        fs.setPermission(new Path(sticky.toUri), new FsPermission(Integer.parseInt("1777", 8).toShort))
        Seq(mode(file), mode(sub), mode(sticky))
      }
      assert(modes(1) === modes(0), s"umask $umask")
      if (umask == "077") assert(modes(1) === Seq("600", "700", "1777"))
    }
  }

  test("getFileLinkStatus and getLinkTarget match the stock file system") {
    val dir = Files.createTempDirectory("graft_fs_link")
    val plain = Files.write(dir.resolve("plain"), "abc".getBytes(UTF_8))
    val link = Files.createSymbolicLink(dir.resolve("link"), Paths.get("plain"))
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    val Seq(stock, nio) = raws(sessionConf)
    // the stock fallback looks links up at the path's string, so it tells
    // a link only when the path carries no scheme: check both spellings
    for (p <- Seq(plain, link, dangling, missing);
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(describe(nio.getFileLinkStatus(path)) === describe(stock.getFileLinkStatus(path)), path)
      assert(Try(nio.getLinkTarget(path)).toEither.left.map(_.getClass) ===
        Try(stock.getLinkTarget(path)).toEither.left.map(_.getClass), path)
    }
    // the reference did take each branch
    assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(stock.getLinkTarget(new Path(dangling.toString)) === new Path(dir.resolve("gone").toString))
    assert(describe(stock.getFileLinkStatus(new Path(missing.toString))) ===
      Left(classOf[java.io.FileNotFoundException].getName))
  }

  test("CheckpointFileManager.createAtomic refuses, replaces and names .crc files as on the stock FileContext") {
    val dir = Files.createTempDirectory("graft_fs_ckpt")
    val stockConf = new Configuration(sessionConf)
    stockConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    def write(fm: CheckpointFileManager, path: Path, text: String, overwrite: Boolean): Unit = {
      val out = fm.createAtomic(path, overwrite)
      out.write(text.getBytes(UTF_8))
      out.close()
    }
    val listings = Seq(stockConf -> classOf[LocalFs], sessionConf -> classOf[NioLocalFs]).map {
      case (conf, fsClass) =>
        val root = dir.resolve(fsClass.getSimpleName)
        val rootPath = new Path(root.toUri)
        assert(FileContext.getFileContext(rootPath.toUri, conf).getDefaultFileSystem.getClass === fsClass)
        val fm = CheckpointFileManager.create(rootPath, conf)
        assert(fm.isInstanceOf[FileContextBasedCheckpointFileManager])
        fm.mkdirs(rootPath)
        val target = new Path(rootPath, "0")
        write(fm, target, "first", overwrite = false)
        intercept[FileAlreadyExistsException](write(fm, target, "second", overwrite = false))
        assert(new String(Files.readAllBytes(root.resolve("0")), UTF_8) === "first")
        write(fm, target, "third", overwrite = true)
        assert(new String(Files.readAllBytes(root.resolve("0")), UTF_8) === "third")
        // the refused write leaves its temp file, named with a random UUID
        Files.list(root).iterator.asScala.map(_.getFileName.toString
          .replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>")).toSeq.sorted
    }
    assert(listings(1) === listings(0))
    assert(listings(1).filterNot(_.contains("<uuid>")) === Seq(".0.crc", "0"))
  }
}
