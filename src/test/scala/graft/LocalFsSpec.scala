package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{MergeInto, Scd2Stream}
import graft.streaming.StreamBatchJobsSpec.{changes, envelope}

/** `file://` I/O starts no process ([[NoForkLocalFileSystem]],
  * [[NoForkLocalFs]]): every session of [[GraftSession]] resolves both
  * Hadoop APIs to the fork-free classes, a merge and a stream micro-batch
  * start no process through Hadoop, and files, `.crc` files and directories get
  * the modes Hadoop's stock local filesystem gives them.
  */
class LocalFsSpec extends SparkSpec {

  import spark.implicits._

  private val Root = URI.create("file:///")

  test("both Hadoop APIs resolve file:// to the fork-free classes") {
    // FileSystem's cache is keyed by scheme and user, not by conf: ask
    // through the session's own conf, as Spark's readers and writers do
    val hc = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(Root, hc)
    assert(fs.getClass == classOf[NoForkLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass ==
      classOf[NoForkRawLocalFileSystem])
    assert(new Path("/tmp").getFileSystem(spark.sessionState.newHadoopConf())
      .getClass == classOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.getClass ==
      classOf[NoForkLocalFs])
  }

  /** Every `jdk.ProcessStart` while `body` runs. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val out = Files.createTempFile("graft-forks", ".jfr")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try body finally {
      rec.stop()
      rec.dump(out)
      rec.close()
    }
    try RecordingFile.readAllEvents(out).asScala.toSeq
    finally Files.delete(out)
  }

  private def frames(e: RecordedEvent): Seq[String] =
    Option(e.getStackTrace).map(_.getFrames.asScala.toSeq).getOrElse(Nil)
      .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")

  /** Process starts grouped by command (without its path argument) and
    * the first three frames below the JDK and Hadoop's `Shell`.
    */
  private def describe(es: Seq[RecordedEvent]): String =
    es.groupBy(e => e.getString("command").takeWhile(_ != '/').trim +
        " <- " + frames(e).filterNot(f => f.startsWith("java.") ||
          f.startsWith("org.apache.hadoop.util.Shell")).take(3)
          .mkString(" < "))
      .map { case (k, v) => s"${v.size}x $k" }.toSeq.sorted.mkString("\n")

  test("a 64-bucket merge and a stream micro-batch fork no file operation") {
    val base = Files.createTempDirectory("graft-nofork").toString
    val root = s"$base/merge"
    MergeInto.mergeBatch(spark,
      (1L to 3000L).map(i => (i, s"v$i")).toDF("id", "v"), root, "id")
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    var q: StreamingQuery = null
    try {
      val forks = processStarts {
        MergeInto.mergeBatch(spark,
          (1L to 6000L by 2).map(i => (i, s"w$i")).toDF("id", "v"), root, "id")
        q = Scd2Stream.dimensionStream(changes(spark, input),
          s"$base/dim", s"$base/ckpt")
        input.addData((1L to 40L).map(id => envelope("c", id, "a", id)))
        q.processAllAvailable()
        input.addData((1L to 20L).map(id => envelope("u", id, "b", 100 + id)))
        q.processAllAvailable()
      }
      // only Hadoop's: Spark forks on its own timers too — a `getconf`
      // page-size probe on the JVM's first heartbeat, an `rm -rf` when the
      // GC reclaims a cloned session's artifact dir
      val fsForks =
        forks.filter(frames(_).exists(_.startsWith("org.apache.hadoop.")))
      assert(fsForks.isEmpty,
        s"${fsForks.size} process starts:\n${describe(fsForks)}")
    } finally if (q != null) q.stop() // Spark's own `rm -rf` of its artifacts
    assert(MergeInto.readTable(spark, root).count() == 4500L)
    assert(Scd2Stream.readDimension(spark, s"$base/dim").count() == 60L)
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every path under `dir` with its mode, relative to `dir`. */
  private def modes(dir: java.nio.file.Path): Map[String, Int] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filterNot(_ == dir)
      .map(p => dir.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  /** The same writes through one `FileSystem` and one `FileContext`. */
  private def writeTree(fs: FileSystem, fc: FileContext, dir: String): Unit = {
    fs.mkdirs(new Path(s"$dir/a/b/c"))
    val out = fs.create(new Path(s"$dir/a/b/c/f.bin"))
    out.write(Array.tabulate[Byte](1000)(_.toByte))
    out.close()
    fs.create(new Path(s"$dir/x/y/g.bin")).close() // parents made by create
    fs.mkdirs(new Path(s"$dir/s"))
    fs.setPermission(new Path(s"$dir/s"),
      new FsPermission(0x3ff.toShort)) // 01777: sticky, the stock path
    fs.setPermission(new Path(s"$dir/x/y/g.bin"),
      new FsPermission(0x1a0.toShort)) // 0640
    fc.mkdir(new Path(s"$dir/ctx/d"), FsPermission.getDirDefault, true)
    val o = fc.create(new Path(s"$dir/ctx/d/tmp"),
      java.util.EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
    o.write(42)
    o.close()
    fc.rename(new Path(s"$dir/ctx/d/tmp"), new Path(s"$dir/ctx/d/1"))
  }

  test("files, .crc files and directories get the stock modes and bytes") {
    for (umask <- Seq("022", "077")) {
      val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
      conf.set("fs.permissions.umask-mode", umask)
      val stockConf = new Configuration(conf)
      stockConf.set("fs.AbstractFileSystem.file.impl",
        "org.apache.hadoop.fs.local.LocalFs")
      val stock = new LocalFileSystem()
      stock.initialize(Root, conf)
      val ours = new NoForkLocalFileSystem()
      ours.initialize(Root, conf)
      val base = Files.createTempDirectory(s"graft-modes-$umask")
      writeTree(stock, FileContext.getFileContext(stockConf), s"$base/stock")
      writeTree(ours, FileContext.getFileContext(conf), s"$base/ours")
      val (s, o) = (modes(base.resolve("stock")), modes(base.resolve("ours")))
      assert(s.keySet.contains("a/b/c/.f.bin.crc") &&
        s.keySet.contains("ctx/d/.1.crc"), s.keySet)
      assert(o == s, s"umask $umask")
      assert(s("s") == 0x3ff && s("x/y/g.bin") == 0x1a0)
      for (f <- s.keys if !Files.isDirectory(base.resolve(s"stock/$f")))
        assert(Files.readAllBytes(base.resolve(s"ours/$f")).sameElements(
          Files.readAllBytes(base.resolve(s"stock/$f"))), f)
      stock.close(); ours.close()
    }
  }

  test("a symlink's link status still reports the link and its target") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft-link")
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val stock = new LocalFileSystem()
    stock.initialize(Root, conf)
    val ours = new NoForkLocalFileSystem()
    ours.initialize(Root, conf)
    for (p <- Seq(new Path(link.toString), new Path(link.toUri))) {
      val (s, o) = (stock.getFileLinkStatus(p), ours.getFileLinkStatus(p))
      assert(o.isSymlink == s.isSymlink, p)
      if (s.isSymlink) assert(o.getSymlink == s.getSymlink, p)
      assert(o.getLen == s.getLen && o.getPath == s.getPath, p)
    }
    val s = stock.getFileLinkStatus(new Path(link.toString))
    assert(s.isSymlink && Paths.get(s.getSymlink.toUri) == target)
    val stockConf = new Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl",
      "org.apache.hadoop.fs.local.LocalFs")
    for (c <- Seq(conf, stockConf)) {
      val st = FileContext.getFileContext(c).getFileLinkStatus(
        new Path(link.toString))
      assert(st.isSymlink && Paths.get(st.getSymlink.toUri) == target)
    }
    val plain = ours.getFileLinkStatus(new Path(target.toString))
    assert(!plain.isSymlink && plain.getLen == 1L)
    stock.close(); ours.close()
  }
}
