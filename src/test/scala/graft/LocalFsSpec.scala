package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files
import java.util.EnumSet
import java.util.concurrent.{ConcurrentLinkedQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.{col, count, lit}

import graft.sinks.{DirectOutput, Upsert}
import graft.streaming.StreamOps

/** The session profile's local file systems ([[ForkFreeLocalFileSystem]],
  * [[ForkFreeLocalFs]]): installed on both Hadoop routes, the same bits
  * and statuses as the stock classes, and no child process on the commit
  * and drain paths.
  */
class LocalFsSpec extends SparkSpec {
  import spark.implicits._

  private def hconf: Configuration = spark.sparkContext.hadoopConfiguration
  private def tmp(): File = Files.createTempDirectory("graft_localfs").toFile
  private def octal(s: String): Short = Integer.parseInt(s, 8).toShort
  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  /** The raw classes side by side: graft's and the stock one. */
  private def twins(): (RawLocalFileSystem, RawLocalFileSystem) = {
    val ours = new ForkFreeRawLocalFileSystem
    val stock = new RawLocalFileSystem
    Seq(ours, stock).foreach(_.initialize(URI.create("file:///"), hconf))
    (ours, stock)
  }

  /** A copy of the session's conf with the stock classes on both routes. */
  private def stockConf: Configuration = {
    val c = new Configuration(hconf)
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.LocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    c
  }

  test("the session's FileSystem and FileContext on file:/// are graft's classes") {
    // the FileSystem cache is JVM-wide and keyed without the conf: an
    // earlier FileSystem.get on a conf without the profile's key would
    // have pinned the stock class for every later caller
    val fs = FileSystem.get(URI.create("file:///"), hconf)
    assert(fs.getClass === classOf[ForkFreeLocalFileSystem])
    assert(FileSystem.getLocal(hconf).getRaw.getClass === classOf[ForkFreeRawLocalFileSystem])
    val afs = FileContext.getFileContext(URI.create("file:///"), hconf).getDefaultFileSystem
    assert(afs.getClass === classOf[ForkFreeLocalFs])
    val fresh = spark.newSession().sessionState.newHadoopConf()
    assert(FileContext.getFileContext(fresh).getDefaultFileSystem.getClass === classOf[ForkFreeLocalFs])
    // the stock conf really is stock, so the differentials below compare two classes
    val stockFs = FileSystem.newInstance(URI.create("file:///"), stockConf) // bypasses the cache
    try assert(stockFs.getClass === classOf[org.apache.hadoop.fs.LocalFileSystem])
    finally stockFs.close()
  }

  test("setPermission and the create and mkdir defaults set the stock class's bits") {
    val (ours, stock) = twins()
    val dir = tmp()
    def twin(name: String)(make: (RawLocalFileSystem, Path) => Unit): (Int, Int) = {
      val a = new Path(new File(dir, s"ours_$name").toURI)
      val b = new Path(new File(dir, s"stock_$name").toURI)
      make(ours, a)
      make(stock, b)
      (mode(new File(a.toUri)), mode(new File(b.toUri)))
    }
    for (m <- Seq("600", "644", "700", "755", "777")) {
      val perm = new FsPermission(octal(m))
      val (f1, f2) = twin(s"f$m") { (fs, p) => fs.create(p).close(); fs.setPermission(p, perm) }
      assert(f1 === octal(m) && f1 === f2, s"file $m: ${f1.toOctalString} vs stock ${f2.toOctalString}")
      val (d1, d2) = twin(s"d$m") { (fs, p) => fs.mkdirs(p); fs.setPermission(p, perm) }
      assert(d1 === octal(m) && d1 === d2, s"dir $m: ${d1.toOctalString} vs stock ${d2.toOctalString}")
      val (c1, c2) = twin(s"c$m") { (fs, p) => fs.create(p, perm, false, 4096, 1, 1 << 20, null).close() }
      assert(c1 === c2, s"create with $m: ${c1.toOctalString} vs stock ${c2.toOctalString}")
      val (m1, m2) = twin(s"m$m") { (fs, p) => fs.mkdirs(p, perm) }
      assert(m1 === m2, s"mkdirs with $m: ${m1.toOctalString} vs stock ${m2.toOctalString}")
    }
    // the umask-applied defaults: a plain create, nested mkdirs
    val (c1, c2) = twin("default_file") { (fs, p) => fs.create(p, true).close() }
    assert(c1 === c2 && c1 === FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(hconf)).toShort)
    val (n1, n2) = twin("default_dir/a/b") { (fs, p) => fs.mkdirs(p) }
    assert(n1 === n2 && n1 === FsPermission.getDirDefault.applyUMask(FsPermission.getUMask(hconf)).toShort)
    assert(mode(new File(dir, "ours_default_dir")) === mode(new File(dir, "stock_default_dir")))
    // a sticky mode takes the stock path: NIO's permission set cannot carry it
    val (s1, s2) = twin("sticky") { (fs, p) => fs.mkdirs(p); fs.setPermission(p, new FsPermission(octal("1777"))) }
    assert(s1 === octal("1777") && s1 === s2, s"sticky: ${s1.toOctalString} vs stock ${s2.toOctalString}")
  }

  test("the FileContext route writes, renames and makes directories with the stock bits") {
    val dir = tmp()
    def run(conf: Configuration, side: String): Seq[Int] = {
      val fc = FileContext.getFileContext(URI.create("file:///"), conf)
      val base = new Path(new File(dir, side).toURI)
      fc.mkdir(new Path(base, "state/0"), FsPermission.getDirDefault, true)
      val tmpFile = new Path(base, "state/0/.1.delta.tmp")
      val out = fc.create(tmpFile, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      out.write("x".getBytes("UTF-8"))
      out.close()
      fc.rename(tmpFile, new Path(base, "state/0/1.delta"), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      Seq("state", "state/0", "state/0/1.delta", "state/0/.1.delta.crc")
        .map(n => mode(new File(new File(dir, side), n)))
    }
    val ours = run(hconf, "ours")
    val stock = run(stockConf, "stock")
    assert(ours === stock)
    assert(FileContext.getFileContext(URI.create("file:///"), stockConf).getDefaultFileSystem.getClass ===
      classOf[org.apache.hadoop.fs.local.LocalFs])
  }

  test("getFileLinkStatus agrees with the stock class on a file, a directory, a symlink and a missing path") {
    val (ours, stock) = twins()
    val dir = tmp()
    val file = new File(dir, "f")
    Files.write(file.toPath, "abc".getBytes("UTF-8"))
    val sub = new File(dir, "d")
    sub.mkdir()
    val link = new File(dir, "l")
    Files.createSymbolicLink(link.toPath, file.toPath)
    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null, s.getModificationTime, s.getPermission, s.getOwner,
      s.getGroup, s.getReplication, s.getBlockSize)
    // the FileContext route passes file: URIs; a bare path is the other form
    for (f <- Seq(file, sub, link); p <- Seq(new Path(f.toURI), new Path(f.getPath))) {
      assert(fields(ours.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)), p)
    }
    assert(stock.getFileLinkStatus(new Path(link.getPath)).isSymlink, "the bare-path symlink reads as one")
    for (p <- Seq(new Path(new File(dir, "missing").toURI), new Path(new File(dir, "missing").getPath))) {
      intercept[FileNotFoundException](stock.getFileLinkStatus(p))
      intercept[FileNotFoundException](ours.getFileLinkStatus(p))
    }
  }

  /** Every `jdk.ProcessStart` in the JVM while `body` runs: its command
    * and its stack's frames, top first. A sentinel start before and after
    * `body` proves the recorder live and flushed. */
  private def processStarts(body: => Unit): Seq[(String, Seq[String])] = {
    val starts = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val n = new AtomicInteger()
    val rs = new RecordingStream()
    def sentinel(): Unit = {
      val tag = s"graft-localfs-sentinel-${n.incrementAndGet()}"
      new ProcessBuilder("true", tag).start().waitFor()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      def seen = starts.asScala.exists(_._1.contains(tag))
      while (!seen && System.nanoTime() < deadline) Thread.sleep(50)
      assert(seen, s"the recorder never saw $tag")
    }
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => starts.add(e.getString("command") ->
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}")))
      rs.startAsync()
      sentinel()
      starts.clear()
      body
      sentinel()
    } finally rs.close()
    starts.asScala.toSeq.filterNot(_._1.contains("graft-localfs-sentinel-"))
  }

  test("commit, upsert and drain paths start no Hadoop Shell process") {
    val dir = tmp().getPath
    val a = (1 to 200).map(i => (i, s"v$i")).toDF("k", "v")
    val b = (1 to 50).map(i => (i % 5, i.toLong)).toDF("g", "n")
    val events = GraftSession.normalizeTs(StreamOps.parquetStream(spark, s"$templateDir/events.parquet"))
    val agg = StreamOps.windowedAgg(events, "ts", "1 hour", "2 hours",
      keys = Seq("event_type"), aggs = Seq(count(lit(1)).as("n")))
    var drained = 0L
    val starts = processStarts {
      DirectOutput.write("tx1", s"$dir/_tx", Seq(
        DirectOutput.Spec(a, s"$dir/out/a"), DirectOutput.Spec(b, s"$dir/out/b", partitionBy = Seq("g"))))
      Upsert.create(a.withColumn("k", col("k").cast("long")), s"$dir/t", Seq("k"), 4)
      Upsert.upsert(Seq((3L, "u", "U", 1L), (500L, "i", "I", 1L)).toDF("k", "v", "_op", "_seq"), s"$dir/t")
      drained = StreamOps.drainToBatch(agg).count()
    }
    // Spark's own starts (`rm -rf` in JavaUtils.deleteRecursively, a
    // one-time `getconf PAGESIZE`) are not the file system's
    val shell = starts.filter(_._2.exists(_.startsWith("org.apache.hadoop.util.Shell")))
    assert(shell.isEmpty, shell.map { case (cmd, frames) =>
      s"$cmd <- ${frames.find(_.startsWith("graft.")).getOrElse(frames.take(8).mkString(" < "))}"
    }.mkString("\n"))
    // the flows did their work
    assert(spark.read.parquet(s"$dir/out/a").count() === 200)
    assert(spark.read.parquet(s"$dir/out/b").count() === 50)
    assert(Upsert.read(spark, s"$dir/t").count() === 201)
    assert(drained > 0)
  }
}
