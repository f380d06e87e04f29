package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** The per-session memo behind every value graft keeps between queries:
  * builds may nest, one key builds once under concurrent callers, a
  * failed build holds nothing, and the memo is the only such map. */
class SessionMemoSpec extends SparkSpec {

  import spark.implicits._

  test("a build may nest another memo and a table read") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-nest").toString
    Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$dir/t.parquet")
    def outer(): Long = SessionMemo(spark, "spec-nest-outer", dir) {
      SessionMemo(spark, "spec-nest-inner", dir)(10L) +
        table(spark, dir, "t").count()
    }
    try {
      assert(outer() === 13L)
      val builds = SessionMemo.builds
      assert(outer() === 13L)
      assert(SessionMemo.builds === builds, "a hit must build nothing")
      assert(Set("spec-nest-outer", "spec-nest-inner")
        .subsetOf(SessionMemo.keys(spark)))
    } finally deleteRecursively(new java.io.File(dir))
  }

  test("two threads on one key build once and share the value") {
    val started = new AtomicInteger
    val go = new CountDownLatch(1)
    def call(): Object = SessionMemo(spark, "spec-two-threads", 1) {
      started.incrementAndGet()
      Thread.sleep(200)
      new Object
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Object]
    val threads = Seq.fill(2)(new Thread(() => {
      go.await(10, TimeUnit.SECONDS)
      got.add(call()): Unit
    }))
    threads.foreach(_.start())
    go.countDown()
    threads.foreach(_.join(30000))
    assert(started.get === 1)
    assert(got.size === 2)
    assert(got.peek() eq call())
  }

  test("a throwing build leaves no entry and the next call builds again") {
    val calls = new AtomicInteger
    def call(fail: Boolean): Int = SessionMemo(spark, "spec-throws", 1) {
      calls.incrementAndGet()
      if (fail) throw new IllegalStateException("build failed")
      7
    }
    intercept[IllegalStateException](call(fail = true))
    assert(!SessionMemo.keys(spark).contains("spec-throws"))
    assert(call(fail = false) === 7)
    assert(call(fail = false) === 7)
    assert(calls.get === 2)
  }

  test("a new version releases the old value; clearCaches releases the rest") {
    val released = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def call(v: String): String =
      SessionMemo(spark, "spec-release", v, (x: String) => released.add(x): Unit)(s"value-$v")
    assert(call("a") === "value-a")
    assert(call("b") === "value-b")
    assert(released.toArray.toSeq === Seq("value-a"))
    graft.clearCaches(spark)
    assert(released.toArray.toSeq === Seq("value-a", "value-b"))
    assert(SessionMemo.keys(spark) === Set.empty[String])
  }

  test("no file under src/main keeps a SparkSession-keyed map but SessionMemo") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val keyedBySession = ("""ConcurrentHashMap\s*\[\s*\(?\s*""" +
      """(org\.apache\.spark\.sql\.)?SparkSession\b""").r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val holders = files(root).filter { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      keyedBySession.findFirstIn(src).isDefined
    }.map(_.getName).toSet
    assert(holders === Set("SessionMemo.scala"),
      "per-session state goes through graft.SessionMemo, so clearCaches frees it")
  }
}
