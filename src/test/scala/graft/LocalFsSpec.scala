package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

import graft.io.{NoForkLocalFs, NoForkRawLocalFileSystem}

/** The no-fork local filesystem against Hadoop's stock one: the same
  * modes, the same link status, the same errors, and no process started
  * for a streaming job's checkpoint or output.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def fss(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val conf = new Configuration()
    val stock = new RawLocalFileSystem; stock.initialize(stock.getUri, conf)
    val noFork = new NoForkRawLocalFileSystem; noFork.initialize(noFork.getUri, conf)
    (stock, noFork)
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getModificationTime)

  /** Every process command line the JVM starts while `body` runs. */
  private def processesDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val f = Files.createTempFile("graft-procs", ".jfr")
      try {
        rec.dump(f)
        jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
          .map(_.getString("command"))
      } finally Files.delete(f)
    } finally rec.close()
  }

  test("create and mkdir with a permission leave the stock class's POSIX mode") {
    val base = Files.createTempDirectory("graft-localfs-mode").toRealPath()
    val (stock, noFork) = fss()
    // a setgid parent: new dirs inherit the bit, `chmod 0755` keeps it
    val sgid = base.resolve("sgid"); Files.createDirectory(sgid)
    new ProcessBuilder("chmod", "2775", sgid.toString).inheritIO().start().waitFor()
    assert((mode(sgid) & 0x400) != 0, "the setgid parent was not set up")
    for (octal <- Seq("644", "600", "751", "700", "444", "1777");
         parent <- Seq(base, sgid)) {
      val perm = new FsPermission(Integer.parseInt(octal, 8).toShort)
      val got = Seq(stock, noFork).map { fs =>
        val tag = s"${fs.getClass.getSimpleName}-$octal"
        val file = parent.resolve(s"f-$tag"); val dir = parent.resolve(s"d-$tag")
        fs.create(new Path(file.toUri), perm, true, 4096, 1.toShort, 1L << 20, null)
          .close()
        assert(fs.mkdirs(new Path(dir.toUri), perm))
        (mode(file), mode(dir))
      }
      assert(got(0) == got(1),
        s"$octal under $parent: stock ${got(0)._1.toOctalString}/" +
          s"${got(0)._2.toOctalString}, no-fork ${got(1)._1.toOctalString}/" +
          s"${got(1)._2.toOctalString}")
    }
  }

  test("getFileLinkStatus matches the stock class on files, dirs, symlinks and missing paths") {
    val base = Files.createTempDirectory("graft-localfs-link").toRealPath()
    val (stock, noFork) = fss()
    val file = base.resolve("file"); Files.writeString(file, "x")
    val dir = base.resolve("dir"); Files.createDirectory(dir)
    val link = base.resolve("link"); Files.createSymbolicLink(link, file)
    for (p <- Seq(file, dir).map(q => new Path(q.toUri))) {
      val s = noFork.getFileLinkStatus(p)
      assert(fields(s) == fields(noFork.getFileStatus(p)))
      assert(fields(s) == fields(stock.getFileLinkStatus(p)))
      assert(!s.isSymlink)
    }
    // both forms hand off to the stock code, which detects the link only
    // on a scheme-less path (it runs `readlink` on Path.toString)
    for (p <- Seq(new Path(link.toString), new Path(link.toUri)))
      assert(fields(noFork.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)))
    val l = noFork.getFileLinkStatus(new Path(link.toString))
    assert(l.isSymlink && l.getSymlink == new Path(file.toUri))
    val missing = new Path(base.resolve("missing").toUri)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](noFork.getFileLinkStatus(missing))
  }

  test("FileContext resolves NoForkLocalFs and its create, rename and mkdir start no process") {
    assume(!NativeIO.isAvailable, "with libhadoop loaded, Hadoop forks nothing here")
    val base = Files.createTempDirectory("graft-localfs-fc").toRealPath().toString
    def roundTrip(conf: Configuration, tag: String): Unit = {
      val fc = FileContext.getFileContext(new java.net.URI("file:///"), conf)
      val dir = new Path(s"file://$base/$tag")
      fc.mkdir(dir, FsPermission.getDirDefault, true)
      val out = fc.create(new Path(dir, "tmp"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE))
      out.write(1); out.close()
      fc.rename(new Path(dir, "tmp"), new Path(dir, "1"), Options.Rename.OVERWRITE)
      assert(fc.util.exists(new Path(dir, "1")) && !fc.util.exists(new Path(dir, "tmp")))
    }
    val noForkConf = new Configuration()
    noForkConf.set(NoForkLocalFs.ImplKey, classOf[NoForkLocalFs].getName)
    assert(FileContext.getFileContext(new java.net.URI("file:///"), noForkConf)
      .getDefaultFileSystem.isInstanceOf[NoForkLocalFs])
    val stockCmds = processesDuring(roundTrip(new Configuration(), "stock"))
    val noForkCmds = processesDuring(roundTrip(noForkConf, "nofork"))
    // the recording sees the stock class's chmod and readlink processes
    assert(stockCmds.exists(_.contains(s"$base/stock")), stockCmds)
    assert(!noForkCmds.exists(_.contains(s"$base/nofork")), noForkCmds)
  }

  test("two StreamingJob relaunches start no process on the checkpoint or the sink log") {
    assume(!NativeIO.isAvailable, "with libhadoop loaded, Hadoop forks nothing here")
    val base = Files.createTempDirectory("graft-localfs-stream").toRealPath().toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    def ts(hhmm: String) = Timestamp.valueOf(s"2024-01-15 $hhmm:00")
    // user 1's session spans both deliveries: it closes only in the
    // second run, so that run must restore the first run's state
    val hour1 = Seq((1L, ts("00:00"), 1L), (1L, ts("00:20"), 2L), (2L, ts("00:05"), 3L))
    val hour2 = Seq((1L, ts("00:45"), 4L), (3L, ts("02:00"), 5L))
    hour1.toDF("user_id", "ts", "event_id").coalesce(1).write.parquet(in)
    val schema = spark.read.parquet(in).schema
    val control = new Path(s"file://$base/control")
    val cmds = processesDuring {
      graft.streaming.StreamingJob.run(spark, schema, in, out, ckpt)
      hour2.toDF("user_id", "ts", "event_id").coalesce(1)
        .write.mode("append").parquet(in)
      graft.streaming.StreamingJob.run(spark, schema, in, out, ckpt)
      // control: a stock chmod inside the same recording is seen
      val stock = new RawLocalFileSystem
      stock.initialize(stock.getUri, new Configuration())
      stock.create(control).close()
      stock.setPermission(control, new FsPermission("640"))
    }
    assert(cmds.exists(_.contains(s"$base/control")), cmds)
    // the sink's part files go through the cached FileSystem API, not
    // FileContext: their chmods stay, the sink log's do not
    val named = cmds.filter(c => c.contains(ckpt) ||
      (c.contains(out) && !c.matches(s"chmod 0644 \\Q$out/\\E\\.?part-[^/]+")))
    assert(named.isEmpty, s"${named.size} processes named the checkpoint or the sink log: " +
      named.take(5).mkString("; "))
    val got = spark.read.parquet(out).select("user_id", "n_events", "first_event")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 1L), (2L, 1L, 3L)), got)
  }
}
