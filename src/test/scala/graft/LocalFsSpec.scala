package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{DocumentStreams, EventStreams}

/** Committed after the work a [[LocalFsSpec]] law records, so the law
  * knows every event recorded before it has been delivered. */
@jdk.jfr.Name("graft.LawMarker")
class LawMarker extends jdk.jfr.Event

/** graft's local file system (LocalFs.scala) answers as stock Hadoop's
  * does, and with it a session writes streaming checkpoints, parquet
  * sinks and stored artifacts without starting a process.
  */
class LocalFsSpec extends SparkSpec {

  import spark.implicits._

  private val local = URI.create("file:///")

  private def rawPair(conf: Configuration): (FileSystem, FileSystem) = {
    val stock = new RawLocalFileSystem
    stock.initialize(local, conf)
    val nio = new NioRawLocalFileSystem
    nio.initialize(local, conf)
    (stock, nio)
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & oct("7777")

  private def chmod(p: JPath, m: Int): Unit =
    Files.setAttribute(p, "unix:mode", Integer.valueOf(m)): Unit

  /** Every path under `root` (itself excluded) with its 12 mode bits. */
  private def modes(root: JPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root)
      .map(p => root.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  private def perm(octal: String) = new FsPermission(octal)
  private def oct(digits: String) = Integer.parseInt(digits, 8)

  test("raw local file system: mode bits after create, mkdirs and setPermission equal stock Hadoop's") {
    def p(dir: JPath, rel: String) = new Path(dir.resolve(rel).toString)
    def op(name: String)(f: (FileSystem, JPath) => Unit) = name -> f
    val ops = Seq(
      op("create")((fs, d) => fs.create(p(d, "f")).close()),
      op("create 0640")((fs, d) => fs.create(p(d, "f"), perm("640"), true,
        4096, 1.toShort, 1L << 20, null).close()),
      op("create under new dirs")((fs, d) => fs.create(p(d, "a/b/f")).close()),
      op("mkdirs")((fs, d) => assert(fs.mkdirs(p(d, "a/b")))),
      op("mkdirs 0750")((fs, d) => assert(fs.mkdirs(p(d, "a/b"), perm("750")))),
      op("mkdirs then setPermission 0755") { (fs, d) =>
        assert(fs.mkdirs(p(d, "a")))
        fs.setPermission(p(d, "a"), perm("755"))
      }) ++
      Seq("644", "600", "755", "1644", "000").map(m =>
        op(s"file setPermission $m") { (fs, d) =>
          fs.create(p(d, "f")).close()
          fs.setPermission(p(d, "f"), perm(m))
        }) ++
      Seq("755", "700", "1777", "750").map(m =>
        op(s"directory 6775 setPermission $m") { (fs, d) =>
          Files.createDirectory(d.resolve("a"))
          chmod(d.resolve("a"), oct("6775"))
          fs.setPermission(p(d, "a"), perm(m))
        })
    val conf = spark.sessionState.newHadoopConf()
    val umasks = Seq(f"${FsPermission.getUMask(conf).toShort}%03o", "077", "002")
    for (umask <- umasks; parentMode <- Seq(oct("755"), oct("2775")); (name, op) <- ops) {
      val c = new Configuration(conf)
      c.set(FsPermission.UMASK_LABEL, umask)
      val (stock, nio) = rawPair(c)
      val root = Files.createTempDirectory("graft-localfs-mode")
      val (ds, dn) = (root.resolve("stock"), root.resolve("nio"))
      Seq(ds, dn).foreach { d => Files.createDirectory(d); chmod(d, parentMode) }
      op(stock, ds)
      op(nio, dn)
      val want = modes(ds)
      assert(want.nonEmpty)
      assert(modes(dn) === want,
        s"$name, umask $umask, parent ${parentMode.toOctalString}")
      graft.deleteRecursively(root.toFile)
    }
    // the case stock Hadoop gets from GNU chmod: a four-digit mode keeps a
    // directory's set-group-ID bit (chmod(2) alone would clear it)
    val root = Files.createTempDirectory("graft-localfs-setgid")
    chmod(root, oct("2775"))
    val (_, nio) = rawPair(conf)
    assert(nio.mkdirs(new Path(root.resolve("a").toString)))
    nio.setPermission(new Path(root.resolve("a").toString), perm("755"))
    assert(mode(root.resolve("a")) === oct("2755"))
    graft.deleteRecursively(root.toFile)
  }

  test("raw local file system: getFileLinkStatus and getLinkTarget equal stock Hadoop's") {
    val root = Files.createTempDirectory("graft-localfs-link")
    Files.write(root.resolve("f"), "twelve bytes".getBytes("UTF-8"))
    Files.createDirectory(root.resolve("d"))
    Files.createSymbolicLink(root.resolve("abs"), root.resolve("f"))
    Files.createSymbolicLink(root.resolve("rel"), root.relativize(root.resolve("f")))
    Files.createSymbolicLink(root.resolve("dirlink"), root.resolve("d"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    val (stock, nio) = rawPair(spark.sessionState.newHadoopConf())
    def outcome[T](f: => T): Either[(Class[_], String), T] =
      try Right(f) catch { case e: java.io.IOException => Left((e.getClass, e.getMessage)) }
    def linkStatus(fs: FileSystem, p: Path) = outcome {
      val s = fs.getFileLinkStatus(p)
      (s.getPath, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.isDirectory, s.getLen, s.getModificationTime, s.getPermission,
        s.getOwner, s.getGroup)
    }
    val names = Seq("f", "d", "abs", "rel", "dirlink", "dangling", "missing")
    for (name <- names) {
      val plain = new Path(root.resolve(name).toString)
      for (path <- Seq(plain, stock.makeQualified(plain))) {
        assert(linkStatus(nio, path) === linkStatus(stock, path), s"status of $path")
        assert(outcome(nio.getLinkTarget(path)) === outcome(stock.getLinkTarget(path)),
          s"target of $path")
      }
    }
    // the laws above cover each shape of answer
    def at(name: String) = new Path(root.resolve(name).toString)
    assert(!nio.getFileLinkStatus(at("f")).isSymlink)
    assert(nio.getFileLinkStatus(at("abs")).getSymlink ===
      nio.makeQualified(at("f")))
    assert(nio.getLinkTarget(at("rel")) === new Path("f"))
    val dangling = nio.getFileLinkStatus(at("dangling"))
    assert(dangling.isSymlink && dangling.getLen === 0L)
    assert(outcome(nio.getFileLinkStatus(at("missing"))).left.map(_._1) ===
      Left(classOf[java.io.FileNotFoundException]))
    graft.deleteRecursively(root.toFile)
  }

  /** Run `body` and list the processes the JVM started meanwhile (JFR's
    * `jdk.ProcessStart`): each command with the classes on its stack. */
  private def processesStartedBy[T](body: => T): (T, Seq[(String, Seq[String])]) = {
    val started = new ConcurrentLinkedQueue[(String, Seq[String])]
    val delivered = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[LawMarker])
      rs.onEvent("jdk.ProcessStart", e => started.add((e.getString("command"),
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(_.getMethod.getType.getName))): Unit)
      rs.onEvent("graft.LawMarker", _ => delivered.countDown())
      rs.startAsync()
      val out = body
      new LawMarker().commit()
      assert(delivered.await(60, TimeUnit.SECONDS), "the JFR marker never arrived")
      (out, started.asScala.toSeq)
    } finally rs.close()
  }

  /** Processes Spark starts off the file path, whenever its own threads
    * get to them: the first heartbeat's one-time `getconf PAGESIZE` for
    * process-tree metrics, and the Cleaner thread's `rm -rf` of a
    * collected session's artifact directory. */
  private val offPath = Set("org.apache.spark.executor.ProcfsMetricsGetter",
    "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner")

  test("a session's file: FileSystem and FileContext are graft's, and drains, saves and loads start no process") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(local, conf).getClass === classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass
      === classOf[NioLocalFs])

    val root = Files.createTempDirectory("graft-no-process").toString
    // the recorder sees what stock Hadoop starts: a chmod per directory
    val (stock, _) = rawPair(conf)
    val (_, stockStarted) = processesStartedBy(stock.mkdirs(new Path(s"$root/a/b")))
    assert(stockStarted.map(_._1.split(' ').head) === Seq("chmod", "chmod"))

    def ts(minute: Int) = Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 10, 0).plusMinutes(minute))
    def good(tag: String) = ((1 to 50).map(i => s"$tag$i") :+
      "the a an of and is to the a an of and is to").mkString(" ")
    for (batch <- 0 until 3) {
      // 90 minutes between files: the one-hour watermark closes the
      // first file's sessions
      (0 until 4).map(i => Ev(batch * 4 + i, ts(batch * 90 + i), i % 2, "click", 1.0))
        .toDF().coalesce(1).write.mode("append").parquet(s"$root/events")
      Seq(Doc(batch, ts(batch * 90), "en", good(s"w$batch")))
        .toDF().coalesce(1).write.mode("append").parquet(s"$root/docs")
    }
    def source(name: String) = spark.readStream
      .schema(spark.read.parquet(s"$root/$name").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/$name")
    def drain(name: String, out: org.apache.spark.sql.DataFrame): Unit = {
      val q = out.writeStream.format("parquet")
        .option("checkpointLocation", s"$root/$name-ckpt")
        .trigger(Trigger.AvailableNow()).start(s"$root/$name-out")
      try assert(q.awaitTermination(120000), s"the $name drain did not finish")
      finally q.stop()
      q.exception.foreach(e => throw e)
      assert(q.recentProgress.length >= 3, s"$name: one micro-batch per file")
    }
    val idx = ops.Retrieval.fitPostings(Seq((1L, "apple banana"), (2L, "cherry apple"))
      .toDF("doc_id", "text"))
    val (loaded, started) = processesStartedBy {
      drain("sessions", EventStreams.sessionizeEventTime(spark, source("events"))
        .toDF("user_id", "start_us", "n"))
      drain("docs", DocumentStreams.cleanStream(
        DocumentStreams.scrubStream(source("docs"))))
      idx.save(s"$root/postings")
      ops.Retrieval.loadPostings(spark, s"$root/postings")
    }
    val onPath = started.filterNot(_._2.exists(offPath))
    assert(onPath.isEmpty, s"${onPath.size} processes started: " +
      onPath.groupBy(_._1.split(' ').head).map { case (k, v) => s"$k ×${v.size}" }
        .mkString(", "))
    // the work was done: egress written, the artifact loads whole
    assert(spark.read.parquet(s"$root/docs-out").count() === 3L)
    assert(spark.read.parquet(s"$root/sessions-out").count() >= 1L)
    assert((loaded.nDocs, loaded.sumDlen) === (idx.nDocs, idx.sumDlen))
    graft.deleteRecursively(new java.io.File(root))
  }
}
