package graft.fs

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, FsConstants, LocalFileSystem, LocatedFileStatus, Options, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark._
import graft.model.TradeTick
import graft.streaming.{Ingest, Loader}

/** The fork-free `file:` filesystem leaves what Hadoop's own leaves on disk
  * and returns what it returns, and the engine's write path starts no
  * `chmod`, `readlink` or `ls` process through it.
  */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set(FsPermission.UMASK_LABEL, umask)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration = conf()): F = {
    fs.initialize(FsConstants.LOCAL_FS_URI, c)
    fs
  }

  /** `body`'s result; fails if a `chmod`, `readlink` or `ls` process
    * started while it ran.
    */
  private def forkFree[T](body: => T): T = {
    val starts = new jdk.jfr.Recording()
    starts.enable("jdk.ProcessStart")
    val dump = Files.createTempFile("localfs-forks", ".jfr")
    try {
      starts.start()
      val result = body
      starts.stop()
      starts.dump(dump)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.map(_.getString("command"))
      assert(!commands.exists(c => Seq("chmod ", "readlink ", "ls ").exists(c.startsWith)), commands.mkString("\n"))
      result
    } finally {
      starts.close()
      Files.delete(dump)
    }
  }

  private def octal(o: String) = new FsPermission(Integer.parseInt(o, 8).toShort)

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  /** Runs `make` under a fresh dir and returns every path's mode relative
    * to that dir.
    */
  private def modesAfter(make: Path => Unit): Map[String, String] = {
    val root = Paths.get(tmpDir("localfs-mode"))
    make(new Path(root.toString))
    Files.walk(root).iterator.asScala.drop(1).map(p => root.relativize(p).toString -> mode(p)).toMap
  }

  test("create and mkdirs leave the modes the stock filesystem leaves") {
    val perms = Seq("644", "755", "600", "700").map(octal)
    for (umask <- Seq("022", "077")) {
      def make(fs: FileSystem)(root: Path): Unit = {
        perms.foreach { p =>
          fs.create(new Path(root, s"f$p"), p, true, 4096, 1.toShort, 1L << 20, null).close()
          fs.mkdirs(new Path(root, s"d$p"), p)
        }
        fs.create(new Path(root, "default")).close()
        fs.mkdirs(new Path(root, "defaultDir/sub"))
      }
      val stock = modesAfter(make(init(new LocalFileSystem(), conf(umask))))
      val nio = forkFree(modesAfter(make(init(new NioLocalFileSystem(), conf(umask)))))
      assert(nio == stock, s"umask $umask")
      // the checksummed side writes a .crc beside each file
      assert(stock.keySet.exists(_.endsWith(".crc")))
      if (umask == "022")
        assert(Seq("frw-r--r--", "drwx------", "default", "defaultDir/sub").map(stock) ==
          Seq("rw-r--r--", "rwx------", "rw-r--r--", "rwxr-xr-x"))
    }
  }

  test("link status reads as the stock filesystem's, fork-free") {
    val (stock, nio) = (init(new RawLocalFileSystem()), init(new NioRawLocalFileSystem()))
    val root = Paths.get(tmpDir("localfs-link"))
    val file = Files.write(root.resolve("file"), "x".getBytes(UTF_8))
    val dir = Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), file.getFileName)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def view(st: FileStatus) = (st.getPath, st.isDirectory, st.getLen, st.getPermission, st.getOwner,
      st.getModificationTime, if (st.isSymlink) Some(st.getSymlink) else None)
    val paths = Seq(new Path(file.toString), new Path(dir.toString), new Path(root.resolve("link").toString),
      new Path(root.resolve("link").toUri), new Path(root.resolve("dangling").toString))
    for (p <- paths) assert(view(forkFree(nio.getFileLinkStatus(p))) == view(stock.getFileLinkStatus(p)), p)
    // the unqualified link reads as a link, to its qualified target; the
    // qualified spelling never did
    assert(nio.getFileLinkStatus(paths(2)).getSymlink.toUri.getPath == file.toString)
    assert(!nio.getFileLinkStatus(paths(3)).isSymlink)
    assert(nio.getLinkTarget(paths(2)) == stock.getLinkTarget(paths(2)))
    val missing = new Path(root.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](forkFree(nio.getFileLinkStatus(missing)))
  }

  test("a located listing reads the modes, owners and groups the stock filesystem reads") {
    val root = Paths.get(tmpDir("localfs-list"))
    val (stock, nio) = (init(new LocalFileSystem()), init(new NioLocalFileSystem()))
    Seq("644" -> "a", "600" -> "b", "700" -> "sub/c").foreach { case (o, name) =>
      val p = new Path(root.resolve(name).toString)
      stock.create(p).close()
      stock.setPermission(p, octal(o))
    }
    val sticky = new Path(root.resolve("sticky").toString)
    stock.mkdirs(sticky)
    stock.setPermission(sticky, octal("1777"))
    Files.createSymbolicLink(root.resolve("link"), Paths.get("a"))
    def view(it: RemoteIterator[LocatedFileStatus]) =
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map(st => (st.getPath, st.isDirectory,
        st.getLen, st.getPermission, st.getOwner, st.getGroup, Option(st.getBlockLocations).map(_.length)))
        .toSeq.sortBy(_._1.toString)
    val top = new Path(root.toString)
    val expected = view(stock.listLocatedStatus(top)) ++ view(stock.listFiles(top, true))
    assert(forkFree(view(nio.listLocatedStatus(top)) ++ view(nio.listFiles(top, true))) == expected)
    assert(expected.map(e => e._1.getName -> e._4.toString).toMap.filter(_._1 != "c") ==
      Map("a" -> "rw-r--r--", "b" -> "rw-------", "sub" -> "rwxr-xr-x", "sticky" -> "rwxrwxrwt", "link" -> "rw-r--r--"))
  }

  test("a FileContext rename(OVERWRITE) moves the file and its .crc as the stock one does") {
    def renamed(impl: String, guarded: Boolean) = {
      val c = conf()
      c.set(NioLocalFs.FileContextKey, impl)
      val fc = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, c)
      assert(fc.getDefaultFileSystem.getClass.getName == impl)
      val root = Paths.get(tmpDir("localfs-rename"))
      val (src, dst) = (new Path(root.resolve("src").toString), new Path(root.resolve("dst").toString))
      Seq(src -> "new", dst -> "old").foreach { case (p, body) =>
        val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
        out.write(body.getBytes(UTF_8))
        out.close()
      }
      def rename() = fc.rename(src, dst, Options.Rename.OVERWRITE)
      if (guarded) forkFree(rename()) else rename()
      val in = fc.open(dst)
      val body = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (body, Files.list(root).iterator.asScala.map(p => p.getFileName.toString -> mode(p)).toMap)
    }
    val stock = renamed("org.apache.hadoop.fs.local.LocalFs", guarded = false)
    assert(renamed(classOf[NioLocalFs].getName, guarded = true) == stock)
    assert(stock == ("new", Map("dst" -> "rw-r--r--", ".dst.crc" -> "rw-r--r--")))
  }

  test("three loader triggers with their offset and commit logs start no chmod, readlink or ls") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[TradeTick]
    val table = tmpDir("localfs-loader")
    val cp = tmpDir("localfs-loader-cp")
    forkFree {
      val q = Ingest.toBtcusdt(ms.toDF()).writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (df: DataFrame, id: Long) => Loader.writeBatchIdempotent(df, table, id) }
        .start()
      try (0 until 3).foreach { k =>
        ms.addData(TradeTick(k, "BTCUSDT", s"100.$k", "0.10000000", 1700000000000L + k, k % 2 == 0))
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(Loader.readTable(spark, table).count() == 3)
  }

  test("a bare session with the extension resolves file: to the NIO classes; an explicit value wins") {
    def seen(jvmArgs: String*) = freshJvm(LocalFsProbe, jvmArgs: _*).linesIterator.filter(_.startsWith("probe ")).toSeq
    assert(seen() == Seq(s"probe fs ${classOf[NioLocalFileSystem].getName}", s"probe fc ${classOf[NioLocalFs].getName}"))
    assert(seen(s"-Dspark.hadoop.${NioLocalFs.FileSystemKey}=${classOf[LocalFileSystem].getName}") ==
      Seq(s"probe fs ${classOf[LocalFileSystem].getName}", s"probe fc ${classOf[NioLocalFs].getName}"))
  }
}

/** Builds a session with only the extension configured, as a deployment
  * does, and prints the classes its local FileSystem and FileContext use.
  */
object LocalFsProbe {
  def main(args: Array[String]): Unit = {
    val s = SparkSession.builder().config("spark.sql.extensions", "graft.GraftExtensions").getOrCreate()
    try {
      val hc = s.sparkContext.hadoopConfiguration
      println(s"probe fs ${FileSystem.getLocal(hc).getClass.getName}")
      println(s"probe fc ${FileContext.getLocalFSFileContext(hc).getDefaultFileSystem.getClass.getName}")
    } finally s.stop()
  }
}
