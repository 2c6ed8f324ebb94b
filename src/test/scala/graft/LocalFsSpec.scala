package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.streaming.StreamingAgg
import graft.streaming.StreamingAgg.{AggEmit, StreamEvent}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]]: the `file:` binding [[Sessions]] installs gives stock
  * results (bytes, `.crc` sidecars, mode bits, link status, rename guard)
  * and starts no child process on the streaming checkpoint path.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = Sessions.local("4")
  private def conf = spark.sparkContext.hadoopConfiguration
  private val root = new URI("file:///")

  /** The session's configuration with `file:` bound to Hadoop's own classes. */
  private def stockConf(umask: String): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.file.impl", classOf[LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def ourConf(umask: String): Configuration = {
    val c = new Configuration(conf)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def mode(p: java.nio.file.Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → (mode, bytes) of everything under `dir`. */
  private def tree(dir: java.nio.file.Path): Map[String, (Int, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Seq.empty
      dir.relativize(p).toString -> ((mode(p), bytes))
    }.toMap

  /** Files and directories through both APIs, with default and explicit modes. */
  private def populate(c: Configuration, dir: java.nio.file.Path): Unit = {
    val fs = FileSystem.newInstance(root, c)
    try {
      val d = new Path(dir.toString)
      fs.mkdirs(new Path(d, "fs-dir"))
      fs.mkdirs(new Path(d, "fs-dir-750"), new FsPermission("750"))
      val out = fs.create(new Path(d, "fs-dir/file"))
      out.write("fs bytes".getBytes("UTF-8"))
      out.close()
      fs.create(new Path(d, "fs-file-640"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    } finally fs.close()
    val fc = FileContext.getFileContext(root, c)
    val d = new Path(dir.toString)
    fc.mkdir(new Path(d, "fc-dir/nested"), FsPermission.getDirDefault, true)
    val out = fc.create(new Path(d, "fc-dir/nested/file"), EnumSet.of(CreateFlag.CREATE))
    out.write("fc bytes".getBytes("UTF-8"))
    out.close()
    fc.create(new Path(d, "fc-file-600"), EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.perms(new FsPermission("600"))).close()
  }

  test("file: resolves to the fork-free classes for FileSystem and FileContext") {
    val fs = FileSystem.get(root, conf)
    assert(fs.isInstanceOf[LocalFs.Checksummed], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[LocalFs.Raw])
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[LocalFs.Context], afs.getClass.getName)
  }

  test("files, .crc sidecars and directories get stock bytes and mode bits") {
    for (umask <- Seq("022", "027", "077")) {
      val base = Files.createTempDirectory("localfs_modes")
      // a set-group-id parent: chmod keeps that bit on child directories
      for (setgid <- Seq(false, true)) {
        val stock = Files.createDirectory(base.resolve(s"stock-$setgid"))
        val ours = Files.createDirectory(base.resolve(s"ours-$setgid"))
        if (setgid) Seq(stock, ours).foreach { d =>
          assert(new ProcessBuilder("chmod", "2775", d.toString).start().waitFor() == 0)
        }
        populate(stockConf(umask), stock)
        populate(ourConf(umask), ours)
        val (s, o) = (tree(stock), tree(ours))
        assert(s.keySet.exists(_.endsWith(".file.crc")), s.keySet)
        assert(o.keySet == s.keySet, s"umask $umask setgid $setgid")
        s.foreach { case (k, (m, b)) =>
          assert(o(k)._1 == m, f"$k: mode ${o(k)._1}%o, stock $m%o (umask $umask, setgid $setgid)")
          assert(o(k)._2 == b, s"$k: bytes differ")
        }
      }
    }
  }

  test("getFileLinkStatus matches stock on a file, a symlink and a missing path") {
    val dir = Files.createTempDirectory("localfs_links")
    val file = Files.write(dir.resolve("file"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val stock = new RawLocalFileSystem
    stock.initialize(root, stockConf("022"))
    val ours = new LocalFs.Raw
    ours.initialize(root, conf)
    def view(fs: FileSystem, p: Path): Either[Class[_], (Path, Boolean, Option[Path], Long, Boolean, Long)] =
      try {
        val s: FileStatus = fs.getFileLinkStatus(p)
        Right((s.getPath, s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.isDirectory,
          s.getModificationTime))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    val paths = Seq(file, link, dir, dir.resolve("missing")).flatMap { p =>
      Seq(new Path(p.toString), new Path(p.toUri))
    }
    paths.foreach(p => assert(view(ours, p) == view(stock, p), p))
    assert(view(stock, new Path(link.toString)).exists(_._2), "the unqualified link must read as a symlink")
    assert(view(ours, new Path(dir.resolve("missing").toString)).isLeft)
  }

  test("FileContext rename keeps the FileAlreadyExistsException guard and moves the .crc") {
    val dir = new Path(Files.createTempDirectory("localfs_rename").toString)
    val fc = FileContext.getFileContext(root, conf)
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
      out.write(s.getBytes("UTF-8"))
      out.close()
    }
    val (src, dst) = (new Path(dir, "src"), new Path(dir, "dst"))
    write(src, "new")
    write(dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(!fc.util.exists(src) && !Files.exists(Paths.get(dir.toString, ".src.crc")))
    assert(Files.exists(Paths.get(dir.toString, ".dst.crc")))
    val in = fc.open(dst)
    try assert(new String(in.readAllBytes(), "UTF-8") == "new")
    finally in.close()
  }

  test("a checkpointed streaming query starts no child process") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def run(batches: Int): Seq[AggEmit] = {
      val source = MemoryStream[StreamEvent]
      val sink = s"localfs_${System.nanoTime()}"
      val q = StreamingAgg
        .trailingAgg(source.toDS())
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", Files.createTempDirectory("localfs_ckpt").toString)
        .start()
      try {
        (1 to batches).foreach { b =>
          source.addData((1L to 8L).map(k => StreamEvent(k, b * 1000000L, 100L * b)))
          q.processAllAvailable()
        }
        spark.table(sink).as[AggEmit].collect().toSeq
      } finally q.stop()
    }
    // one-off process starts at class initialisation (Hadoop's Shell probes
    // `setsid` once per JVM) happen here, before the recording
    run(1)
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("localfs", ".jfr")
    val emits =
      try {
        rec.enable("jdk.ProcessStart")
        rec.start()
        val out = run(5)
        rec.stop()
        rec.dump(dump)
        out
      } finally rec.close()
    assert(emits.size == 5 * 8)
    // Not the query's: the JDK Cleaner deletes the artifact directories of
    // sessions the GC collected (`rm -rf`, whenever a collection runs), and
    // the first executor heartbeat reads the page size (`getconf`) once
    val unrelated = (t: String) => t.startsWith("Cleaner-") || t == "driver-heartbeater"
    val starts = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .filterNot(e => Option(e.getThread).exists(t => unrelated(t.getJavaName)))
      .map(e => s"${e.getString("command")} (${Option(e.getThread).map(_.getJavaName).orNull})")
    assert(starts.isEmpty, s"${starts.size} process starts: ${starts.take(5).mkString("; ")}")
  }
}
