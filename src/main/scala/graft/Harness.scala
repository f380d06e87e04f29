package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** The measuring code of the evidence mains (Bench, Headline, ScaleProbe,
  * StreamBench): the machine's load band, running a frame to completion,
  * the plan census, wall-clock timing, the result line, and Bench's
  * dev-loop profile. One copy of each, so every main measures the same
  * way.
  */
private[graft] object Harness {

  // ---- the load band ----

  /** A run's load before it starts: CPUs' worth of work by other
    * processes, and its band. */
  final case class Load(preload: Double, band: String) {
    def polluted: Boolean = band != "clean"
    /** The `preload`, `load_band` and `polluted` keys of a result line. */
    def json: String =
      f""""preload":$preload%.1f,"load_band":"$band","polluted":$polluted"""
  }

  /** Band a load of `load` CPUs on `cpus`. "clean" is genuinely idle: at
    * most 2 CPUs and at most a quarter of the cores (load 1.9 on 2 cpus
    * is a saturated box). "loaded" runs to max(a quarter of the cores,
    * twice the clean cut), so it is reachable on ≤ 8 cpus too; above is
    * "polluted". Archived evidence keys on `load_band == "clean"`. */
  def band(load: Double, cpus: Int): String = {
    val cleanCut = math.min(2.0, cpus * 0.25)
    if (load <= cleanCut) "clean"
    else if (load <= math.max(cpus * 0.25, 2 * cleanCut)) "loaded"
    else "polluted"
  }

  /** CPUs busy with other processes between two reads of `/proc/stat`
    * `wallNs` apart, in which this process used `ownNs` of CPU: the busy
    * share (steal counts: it is another guest's work) times the CPU
    * count, less this process's share. */
  def othersCpus(stat0: String, stat1: String,
                 ownNs: Long, wallNs: Long): Double = {
    def ticks(stat: String): (Long, Long, Int) = {
      val lines = stat.linesIterator.toSeq
      // user nice system idle iowait irq softirq steal
      val f = lines.head.trim.split("\\s+").slice(1, 9).map(_.toLong)
      val idle = f(3) + f.lift(4).getOrElse(0L)
      (f.sum - idle, f.sum, lines.count(_.matches("cpu\\d+\\s.*")))
    }
    val (busy0, total0, _) = ticks(stat0)
    val (busy1, total1, n) = ticks(stat1)
    val all = if (total1 > total0) (busy1 - busy0).toDouble / (total1 - total0) * n
      else 0.0
    math.max(0.0, all - ownNs.toDouble / wallNs)
  }

  /** The load of every process but this JVM over one second. The
    * 1-minute load average still carries work that has ended (sbt's
    * start-up and compile before a probe) and this JVM's own previous
    * attempt; this window carries neither. The evidence mains run on
    * Linux: without `/proc/stat` there is no such reading, and the load
    * average would pass for one under the same keys, so this fails. */
  def sampleLoad(): Load = {
    val stat = Paths.get("/proc/stat")
    require(Files.isReadable(stat),
      "the load band needs /proc/stat (Linux): other processes' CPU cannot be read")
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (s0, c0, t0) = (Files.readString(stat), os.getProcessCpuTime, System.nanoTime())
    Thread.sleep(1000)
    val load = othersCpus(s0, Files.readString(stat), os.getProcessCpuTime - c0,
      System.nanoTime() - t0)
    Load(load, band(load, Runtime.getRuntime.availableProcessors))
  }

  /** [[sampleLoad]] before a run, with a stderr banner when the machine
    * is not idle; `effect` says what the load does to the result. */
  def preRun(effect: String): Load = {
    val load = sampleLoad()
    if (load.polluted) System.err.println(
      f"${load.band}%s: ${load.preload}%.1f CPUs busy with other processes " +
        s"on ${Runtime.getRuntime.availableProcessors} cpus before the run — " +
        s"$effect; rerun idle")
    load
  }

  // ---- running and timing ----

  /** Run `df` to completion through the `noop` sink: every row and column
    * is produced and nothing is written. A bare `count()` would let
    * Catalyst prune every column and turn a scan-shaped query into
    * parquet-footer reads. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** `body`'s value and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  // ---- the plan census ----

  /** Counts of the plan nodes that decide scale behaviour: shuffle
    * exchanges, sort-merge joins, broadcast hash joins and cartesian
    * products (a broadcast nested-loop join counts as one). */
  final case class Census(exchange: Int, smj: Int, bhj: Int, cartesian: Int) {
    def json: String =
      s"""{"exchange":$exchange,"smj":$smj,"bhj":$bhj,"cartesian":$cartesian}"""
  }

  def census(plan: String): Census = {
    def n(p: String) = p.r.findAllIn(plan).size
    Census(
      exchange = n("\\bExchange hashpartitioning") +
        n("\\bExchange rangepartitioning") + n("\\bExchange SinglePartition"),
      smj = n("\\bSortMergeJoin"),
      bhj = n("\\bBroadcastHashJoin"),
      cartesian = n("\\bCartesianProduct") + n("\\bBroadcastNestedLoopJoin"))
  }

  /** The census of `df`'s pre-execution physical plan: AQE's runtime
    * re-plan can only improve on it, so a static SMJ or exchange
    * regression shows here. */
  def census(df: DataFrame): Census =
    census(df.queryExecution.executedPlan.toString)

  // ---- the result line ----

  /** A comma list of names (query names, probe filters), blanks dropped. */
  def names(list: String): Seq[String] =
    list.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Write `line` to `path` and print `stdout` (by default the same line):
    * the last line a main prints is its result. */
  def emit(path: String, line: String, stdout: String = null): Unit = {
    Files.writeString(Paths.get(path), line + "\n")
    println(if (stdout == null) line else stdout)
  }

  // ---- the dev-loop profile ----

  /** Run `body` (one query through [[materialize]]) under a stage and a
    * query-execution listener and report where its time went: the
    * slowest stages (wall, task time, shuffle and input MB), then the
    * executed plan of its last query with each operator's SQL metrics. */
  def profile(spark: SparkSession, title: String)(body: => Unit): String = {
    // (wall ms, task ms, the stage's table row)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, String)]
    val stageListener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages.add((wall, m.executorRunTime,
          f"${si.stageId}%6d $wall%8d ${m.executorRunTime}%8d ${si.numTasks}%6d " +
            f"${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1f " +
            f"${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1f " +
            f"${m.inputMetrics.bytesRead / 1e6}%7.1f  " +
            si.name.takeWhile(_ != '\n').take(90))): Unit
      }
    }
    // the noop write runs its own QueryExecution: its executed (post-AQE)
    // plan arrives through a QueryExecutionListener
    @volatile var lastQe: QueryExecution = null
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = lastQe = qe
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(stageListener)
    val wall = try {
      val (_, secs) = timed(body)
      // let the listener bus drain so lastQe is the final write's
      var spin = 0
      while (lastQe == null && spin < 100) { Thread.sleep(50); spin += 1 }
      Thread.sleep(500)
      secs
    } finally {
      spark.sparkContext.removeSparkListener(stageListener)
      spark.listenerManager.unregister(qeListener)
    }

    import scala.jdk.CollectionConverters._
    val rows = stages.asScala.toSeq
    val out = new StringBuilder
    out ++= f"%n==== $title: $wall%.2f s ====%n"
    out ++= f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"tasks"}%6s " +
      f"${"shRd_MB"}%8s ${"shWr_MB"}%8s ${"in_MB"}%7s  name%n"
    rows.sortBy(-_._1).take(40).foreach(r => out ++= r._3 + "\n")
    out ++= f"%n-- ${rows.length} stages, Σwall ${rows.map(_._1).sum}%d ms, " +
      f"Σtask ${rows.map(_._2).sum}%d ms --%n%n"
    def walk(p: SparkPlan, depth: Int): Unit = {
      val mets = p.metrics.toSeq
        .filter { case (_, m) => m.value != 0 }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }
        .mkString(", ")
      out ++= ("  " * depth) + p.nodeName +
        (if (mets.nonEmpty) s"  [$mets]" else "") + "\n"
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.ReusedSubqueryExec => Seq(r.child)
        case b: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          Seq(b.child)
        case _ => p.children
      }
      kids.foreach(walk(_, depth + 1))
      p.subqueries.foreach { sq =>
        out ++= ("  " * (depth + 1)) + "[subquery]\n"
        walk(sq, depth + 2)
      }
    }
    if (lastQe != null) walk(lastQe.executedPlan, 0)
    out.toString
  }
}
