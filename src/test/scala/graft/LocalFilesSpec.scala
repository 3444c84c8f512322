package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.sources.{InProcessLocalFileSystem, InProcessLocalFs, InProcessRawLocalFileSystem}
import graft.streaming.EventStreams

/** Local file operations start no child process, and give the results
  * Hadoop's stock local file system gives. The reference is the stock
  * `LocalFileSystem`/`LocalFs`, resolved from the session's Hadoop conf
  * with the two `file:` settings at Hadoop's defaults.
  */
class LocalFilesSpec extends AnyFunSuite with SparkTimeLimit {
  lazy val spark = SparkTestSession.spark
  // the slowest test takes seconds; a cold session start fits too
  val timeLimit = 2.minutes

  private val LocalUri = new URI("file:///")
  private def graftConf: Configuration = spark.sessionState.newHadoopConf()
  private def stockConf: Configuration = {
    val c = graftConf
    val defaults = new Configuration()
    graft.sources.LocalFiles.hadoopConf.foreach { case (k, _) =>
      Option(defaults.get(k)).fold(c.unset(k))(c.set(k, _))
    }
    c
  }
  // newInstance: a private instance, outside Hadoop's per-scheme cache
  private def graftFs: FileSystem = FileSystem.newInstance(LocalUri, graftConf)
  private def stockFs: FileSystem = FileSystem.newInstance(LocalUri, stockConf)
  private def tmp(prefix: String) = Files.createTempDirectory(prefix)
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer].intValue & 0xfff

  /** Child processes started by `body`, by executable name. */
  private def forks(body: => Unit): Map[String, Int] = ExecShape.processStarts(body)._2

  private def assertNoShellFileOps(what: String, counts: Map[String, Int]): Unit =
    assert(!counts.contains("chmod") && !counts.contains("readlink"), s"$what started $counts")

  test("file: resolves to the in-process classes on the session's Hadoop conf") {
    val fs = FileSystem.get(LocalUri, graftConf)
    assert(fs.getClass == classOf[InProcessLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[InProcessRawLocalFileSystem])
    assert(FileSystem.getLocal(graftConf).getClass == classOf[InProcessLocalFileSystem])
    assert(FileContext.getFileContext(LocalUri, graftConf).getDefaultFileSystem.getClass ==
      classOf[InProcessLocalFs])
    // the reference really is the stock pair: a LocalFileSystem (Hive's
    // ProxyLocalFileSystem where Spark ships hive-exec) and LocalFs
    assert(stockFs.isInstanceOf[LocalFileSystem] && !stockFs.isInstanceOf[InProcessLocalFileSystem])
    assert(FileContext.getFileContext(LocalUri, stockConf).getDefaultFileSystem.getClass ==
      classOf[LocalFs])
  }

  test("a 2-partition parquet write starts no chmod or readlink") {
    val out = tmp("localfiles_write").resolve("out").toString
    val df = spark.range(0, 100).repartition(2)
    assertNoShellFileOps("df.write.parquet", forks(df.write.parquet(out)))
    assert(spark.read.parquet(out).count() == 100)
  }

  test("a checkpointed stream drain starts no chmod or readlink") {
    val root = tmp("localfiles_stream")
    val in = root.resolve("in").toString
    spark.range(0, 20).repartition(2).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    val counts = forks {
      val q = EventStreams.writeIdempotentBatches(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in),
        root.resolve("out").toString, root.resolve("ck").toString)
      try q.processAllAvailable() finally q.stop()
    }
    assertNoShellFileOps("the stream drain", counts)
    assert(Files.list(root.resolve("ck").resolve("commits")).iterator.asScala
      .exists(!_.getFileName.toString.startsWith(".")), "the drain committed no batch")
    assert(spark.read.parquet(root.resolve("out").toString).count() == 20)
  }

  /** The same directories and files written through `fs` and `fc`
    * under `root`: default and explicit modes, a `setPermission`, and
    * a checkpoint-style create-then-rename through `FileContext`.
    */
  private def writeTree(fs: FileSystem, fc: FileContext, root: Path): Unit = {
    def write(out: org.apache.hadoop.fs.FSDataOutputStream): Unit =
      try out.write("graft".getBytes("UTF-8")) finally out.close()
    fs.mkdirs(new Path(root, "a/b"))
    fs.mkdirs(new Path(root, "private"), new FsPermission("700"))
    write(fs.create(new Path(root, "a/b/part-0")))
    write(fs.create(new Path(root, "private/part-1"), new FsPermission("640"), false, 4096,
      1.toShort, 1L << 20, null))
    fs.setPermission(new Path(root, "a/b/part-0"), new FsPermission("604"))
    fs.setPermission(new Path(root, "a"), new FsPermission("751"))
    val ck = new Path(root, "ck")
    fc.mkdir(ck, FsPermission.getDirDefault, true)
    write(fc.create(new Path(ck, ".0.tmp"), java.util.EnumSet.of(CreateFlag.CREATE)))
    fc.rename(new Path(ck, ".0.tmp"), new Path(ck, "0"), Options.Rename.OVERWRITE)
  }

  /** Every entry under `root` (relative path) with its type and mode. */
  private def modes(root: java.nio.file.Path): Map[String, (Boolean, Int)] =
    Files.walk(root).iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> (Files.isDirectory(p), mode(p))).toMap

  test("directories, data files and .crc files get the stock mode bits") {
    val root = tmp("localfiles_modes")
    val (ours, stock) = (root.resolve("graft"), root.resolve("stock"))
    writeTree(graftFs, FileContext.getFileContext(LocalUri, graftConf), new Path(ours.toUri))
    writeTree(stockFs, FileContext.getFileContext(LocalUri, stockConf), new Path(stock.toUri))
    val (got, want) = (modes(ours), modes(stock))
    assert(want.keys.count(_.endsWith(".crc")) >= 3, s"reference tree has too few .crc files: $want")
    assert(got == want)
    assert(want("a/b/part-0") == (false, Integer.parseInt("604", 8)))
    assert(want("a") == (true, Integer.parseInt("751", 8)))
  }

  test("a sticky-bit setPermission still applies") {
    val dir = tmp("localfiles_sticky")
    graftFs.setPermission(new Path(dir.toUri), new FsPermission("1777"))
    val m = Files.getAttribute(dir, "unix:mode").asInstanceOf[Integer].intValue
    assert((m & Integer.parseInt("1777", 8)) == Integer.parseInt("1777", 8), f"mode $m%o")
  }

  /** The fields of a link status, or the exception it threw. */
  private def linkView(status: => org.apache.hadoop.fs.FileStatus): Either[String, Seq[Any]] =
    try {
      val s = status
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, if (s.isSymlink) s.getSymlink else null))
    } catch { case e: java.io.IOException => Left(e.getClass.getName) }

  test("getFileLinkStatus matches the stock class for links, dangling links and plain paths") {
    val root = tmp("localfiles_links")
    val target = Files.writeString(root.resolve("target"), "graft")
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val (ours, stock) = (graftFs, stockFs)
    val (ourFc, stockFc) = (FileContext.getFileContext(LocalUri, graftConf), FileContext.getFileContext(LocalUri, stockConf))
    for {
      p <- Seq(link, dangling, target, root, root.resolve("missing"))
      // qualified and bare: the stock class resolves links only for a bare path
      path <- Seq(new Path(p.toUri), new Path(p.toString))
    } {
      assert(linkView(ours.getFileLinkStatus(path)) == linkView(stock.getFileLinkStatus(path)), s"FileSystem $path")
      assert(linkView(ourFc.getFileLinkStatus(path)) == linkView(stockFc.getFileLinkStatus(path)), s"FileContext $path")
    }
    // the bare link path resolves as a link on both sides
    assert(ours.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }

  test("rename keeps the stock results, onto a missing and onto an existing file") {
    def renames(fs: FileSystem): Seq[Any] = {
      val root = new Path(tmp("localfiles_rename").toUri)
      def write(name: String): Path = {
        val p = new Path(root, name)
        val out = fs.create(p)
        try out.write(name.getBytes("UTF-8")) finally out.close()
        p
      }
      val (a, b, c) = (write("a"), write("b"), new Path(root, "c"))
      Seq(fs.rename(a, b), fs.exists(a), fs.rename(a, c), fs.exists(a), fs.exists(c),
        fs.exists(new Path(root, ".c.crc")))
    }
    assert(renames(graftFs) == renames(stockFs))
  }

  test("the FileContext file system keeps the stock URI, port, server defaults and name rule") {
    def view(afs: AbstractFileSystem): Seq[Any] = {
      val d = afs.getServerDefaults(new Path("/"))
      Seq(afs.getUri, afs.getUriDefaultPort, afs.isValidName("a:b"), d.getBlockSize,
        d.getBytesPerChecksum, d.getWritePacketSize, d.getReplication, d.getFileBufferSize,
        d.getChecksumType)
    }
    assert(view(FileContext.getFileContext(LocalUri, graftConf).getDefaultFileSystem) ==
      view(FileContext.getFileContext(LocalUri, stockConf).getDefaultFileSystem))
  }
}
