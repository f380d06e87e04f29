package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for every suite (getOrCreate reuses one JVM-wide
  * session, so the whole test run pays SparkContext startup once).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4, appName = "graft-test")

  /** sf0.001 fixture dir (150 customers, ~6k lineitems). */
  val sfDir = "/root/testdata/sf0.001"

  /** Directory holding the pizza-corpus CSV test resources. */
  lazy val pizzaDir: String =
    getClass.getResource("/pizza").getPath

  lazy val pizzaDd: graft.catalog.DataDictionary =
    graft.catalog.DataDictionary.fromFile(
      getClass.getResource("/pizza_dd.json").getPath)

  /** A new temp directory, deleted at JVM exit like the program's own
    * ([[SessionMemo.tempDir]]): a spec need not clean up after itself,
    * and a frame still scanning the directory keeps working. */
  def tempDir(prefix: String): String = SessionMemo.tempDir(prefix)

  /** Run `body` and count the Spark jobs it starts. The jobs are told
    * apart by a job group set on this thread; listener events arrive
    * asynchronously, so a marker job run afterwards flushes the bus —
    * once its start event is seen, every earlier job's has been.
    */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet(): Unit
          case Some(`marker`) => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.setJobGroup(marker, "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's start event never arrived")
      (out, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Rewrite the scheme in the manifest of the artifact stored at `dir`:
    * the directory an older or newer build would have left. */
  def forgeStoredScheme(dir: String, scheme: Int): Unit = {
    val manifest = new org.apache.hadoop.fs.Path(dir, Store.Manifest)
    val fs = manifest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(manifest)
    val doc = try mapper.readTree(in)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      finally in.close()
    // through the Hadoop file system, so its checksum file is rewritten too
    val out = fs.create(manifest, true)
    try out.write(mapper.writeValueAsBytes(doc.put("scheme", scheme)))
    finally out.close()
  }

  /** Run `body` and count the classes Spark compiles for it: each
    * generated class that misses the codegen cache is compiled once and
    * counted once. The counter is JVM-wide, so `body` must wait for the
    * work it starts (a collect, a terminated stream).
    */
  def classesCompiledBy[T](body: => T): (T, Long) = {
    val compiles =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val out = body
    (out, compiles.getCount - before)
  }
}
