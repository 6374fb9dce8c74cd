package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventsStream
import graft.util.{AtomicTable, LocalFs, TempDirs}

/** Local file operations start no process. Without a native libhadoop,
  * Hadoop's raw local file system runs `chmod` per created file or
  * directory and `readlink` per link probe; [[LocalFs]] does both in the
  * JVM. The guard counts the JFR `jdk.ProcessStart` events whose stack
  * passes through Hadoop's `Shell` (a child JVM of another spec never
  * does). The parity cases hold [[LocalFs]] to a stock
  * `RawLocalFileSystem`. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark._

  /** Processes Hadoop's `Shell` started while `body` ran. */
  private def shellStarts(body: => Unit): Int = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.count(e => Option(e.getStackTrace).exists(
        _.getFrames.asScala.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell"))))
    } finally { rec.close(); Files.delete(out) }
  }

  private def fresh(fs: FileSystem): FileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  /** The two file systems under comparison, each with its own directory. */
  private def pair(): Seq[(FileSystem, java.nio.file.Path)] = {
    val root = TempDirs.scratch("graft_localfs")
    Seq(fresh(new RawLocalFileSystem) -> root.resolve("stock"), fresh(new LocalFs) -> root.resolve("local"))
  }

  private def mode(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("a committed append and a corpus stream start no process through Hadoop's Shell") {
    import spark.implicits._
    val base = TempDirs.scratch("graft_localfs").resolve("t").toString
    AtomicTable.overwrite((1 to 3).toDF("x"), base)
    val batch = (4 to 6).toDF("x")
    val append = shellStarts(assert(
      AtomicTable.appendIdempotent(base, "spec", 1L)(dir => batch.write.mode("append").parquet(dir))))
    assert(append == 0, s"one parquet append started $append processes")
    assert(AtomicTable.read(spark, base).count() == 6)
    val stream = shellStarts(assert(EventsStream.corpusFilterStream(spark, sf).collect().nonEmpty))
    assert(stream == 0, s"one corpus_filter stream run started $stream processes")
  }

  test("the session's file: FileSystem and FileContext file system are LocalFs") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path("file:///").getFileSystem(conf)
    assert(fs.isInstanceOf[LocalFs.Checksummed], fs.getClass)
    assert(fs.asInstanceOf[LocalFs.Checksummed].getRaw.isInstanceOf[LocalFs])
    val afs = AbstractFileSystem.get(URI.create("file:///"), conf)
    assert(afs.isInstanceOf[LocalFs.ChecksummedFs], afs.getClass)
  }

  test("files and directories get the stock permission bits, explicit and under the umask") {
    val got = pair().map { case (fs, dir) =>
      fs.create(new Path(s"$dir/f640"), new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(new Path(s"$dir/d750"), new FsPermission("750"))
      fs.getConf.set("fs.permissions.umask-mode", "077")
      fs.create(new Path(s"$dir/fumask")).close()
      fs.mkdirs(new Path(s"$dir/dumask"))
      Seq("f640", "d750", "fumask", "dumask").map(n => n -> mode(dir.resolve(n)))
    }
    assert(got.head == got(1))
    assert(got.head == Seq("f640" -> "rw-r-----", "d750" -> "rwxr-x---",
      "fumask" -> "rw-------", "dumask" -> "rwx------"))
  }

  test("a mode beyond 0777 takes the stock path") {
    val sticky = new FsPermission(Integer.parseInt("1750", 8).toShort)
    val fss = pair()
    fss.foreach { case (fs, dir) => fs.mkdirs(new Path(dir.toString)) }
    val Seq((stock, stockDir), (local, localDir)) = fss
    stock.setPermission(new Path(stockDir.toString), sticky)
    assert(shellStarts(local.setPermission(new Path(localDir.toString), sticky)) == 1)
    val perms = Seq(stockDir, localDir).map(d => stock.getFileStatus(new Path(d.toString)).getPermission)
    assert(perms == Seq(sticky, sticky))
  }

  test("getFileLinkStatus matches stock on a file, a symlink and a missing path") {
    val got = pair().map { case (fs, dir) =>
      Files.createDirectories(dir)
      Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
      Files.createSymbolicLink(dir.resolve("link"), Paths.get("file"))
      val Seq(file, link) = Seq("file", "link").map { n =>
        val st = fs.getFileLinkStatus(new Path(dir.resolve(n).toString))
        (st.getPath.toUri.getPath.stripPrefix(dir.toString), st.isFile, st.isDirectory, st.isSymlink,
          st.getLen, if (st.isSymlink) st.getSymlink.toString.stripPrefix(s"file:$dir") else "")
      }
      assert(file == ("/file", true, false, false, 3L, ""))
      assert(link._4 && link._6 == "/file", link)
      intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(s"$dir/missing")))
      Seq(file, link)
    }
    assert(got.head == got(1))
  }
}
