package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named interval inside operation `op`, caused by `parent`
  * (-1 for the operation's root span). Times are `System.nanoTime`. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
                      t0: Long, t1: Long)

/** Per-operation counters filled from Spark's listener buses. Jobs and
  * stages are attributed through the `perfbench.op` / `perfbench.phase`
  * local properties the benchmark sets around each call; query-planning
  * phases are attributed by the operation's wall-clock window. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var taskMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var resolutions, resolveMs = 0L
  var callJobs = 0L
  var optimizeMs, physicalMs = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

/** Tracing for one run. With `on = false` every method only runs its
  * body: no spans, no listeners, no rule-metering reads, so an untraced
  * run measures the program alone. */
final class Trace(spark: SparkSession, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = new ConcurrentHashMap[Int, OpCounters]()
  /** Rule-metering deltas per op: name -> (time ns, effective runs). */
  val rules = mutable.HashMap.empty[Int, Map[String, (Long, Long)]]
  private val windows = mutable.HashMap.empty[Int, (Long, Long)]
  private val qes = new java.util.concurrent.ConcurrentLinkedQueue[
    (Long, Long, Long)]() // planning start ms, optimization ms, planning ms
  private val lastEvent = new AtomicLong(System.nanoTime)
  private val openJobs = new AtomicLong(0)
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var cur = -1

  private def ctr(op: Int) = counters.computeIfAbsent(op, _ => new OpCounters)

  if (on) {
    val stageOp = new ConcurrentHashMap[Int, (Int, String)]()
    val jobStartMs = new ConcurrentHashMap[Int, (Int, String, Long, Boolean)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        lastEvent.set(System.nanoTime); openJobs.incrementAndGet()
        val p = Option(e.properties)
        val op = p.flatMap(x => Option(x.getProperty("perfbench.op")))
          .map(_.toInt).getOrElse(-1)
        val phase = p.flatMap(x => Option(x.getProperty("perfbench.phase")))
          .getOrElse("")
        // A parquet schema inference runs as its own job whose call site
        // is the `spark.read.parquet` that asked for it.
        val resolve = e.stageInfos.headOption.exists(_.name.startsWith("parquet at"))
        e.stageIds.foreach(s => stageOp.put(s, (op, phase)))
        jobStartMs.put(e.jobId, (op, phase, e.time, resolve))
        if (op >= 0) ctr(op).synchronized { ctr(op).jobs += 1 }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        lastEvent.set(System.nanoTime); openJobs.decrementAndGet()
        Option(jobStartMs.remove(e.jobId)).foreach { case (op, phase, t0, resolve) =>
          if (op >= 0) { val c = ctr(op); c.synchronized {
            if (resolve) { c.resolutions += 1; c.resolveMs += e.time - t0 }
            else if (phase == "call") c.callJobs += 1
          } }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        lastEvent.set(System.nanoTime)
        val si = e.stageInfo
        Option(stageOp.get(si.stageId)).filter(_._1 >= 0).foreach { case (op, _) =>
          val c = ctr(op)
          val m = si.taskMetrics
          c.synchronized {
            c.stages += 1; c.tasks += si.numTasks
            if (m != null) {
              c.taskMs += m.executorRunTime; c.taskCpuNs += m.executorCpuTime
              c.gcMs += m.jvmGCTime
              c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
              c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            }
            for (a <- si.submissionTime; b <- si.completionTime)
              c.stageSpans += ((a, b))
          }
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        lastEvent.set(System.nanoTime)
        val ph = qe.tracker.phases
        def d(n: String) = ph.get(n).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
        val start = ph.get("planning").orElse(ph.get("optimization"))
          .map(_.startTimeMs).getOrElse(-1L)
        qes.add((start, d("optimization"), d("planning")))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Run one operation under id `id` (the caller times it). */
  def op[T](id: Int)(body: => T): T = {
    if (!on) body
    else {
      cur = id
      val sc = spark.sparkContext
      sc.setLocalProperty("perfbench.op", id.toString)
      val before = Trace.ruleTimes()
      val w0 = System.currentTimeMillis
      val r = try span("op")(body) finally {
        sc.setLocalProperty("perfbench.op", null)
        windows(id) = (w0, System.currentTimeMillis)
      }
      val after = Trace.ruleTimes()
      rules(id) = after.map { case (k, (t, e)) =>
        val (t0b, e0b) = before.getOrElse(k, (0L, 0L)); k -> (t - t0b, e - e0b)
      }.filter(_._2._1 > 0)
      cur = -1
      r
    }
  }

  /** A child span of the current one. `phase` tags the Spark jobs the
    * body starts, so prelude jobs can be told from materialization. */
  def span[T](name: String, phase: String = null)(body: => T): T =
    if (!on) body else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val sc = spark.sparkContext
      if (phase != null) sc.setLocalProperty("perfbench.phase", phase)
      val t0 = System.nanoTime
      try body finally {
        val t1 = System.nanoTime
        if (phase != null) sc.setLocalProperty("perfbench.phase", null)
        stack = stack.tail
        spans += Span(cur, id, parent, name, t0, t1)
      }
    }

  /** Wait until the listener buses have delivered every event of the
    * finished operations, then attribute planning phases to ops. */
  def settle(): Unit = if (on) {
    val deadline = System.nanoTime + 20_000_000_000L
    while (System.nanoTime < deadline &&
      (openJobs.get > 0 || System.nanoTime - lastEvent.get < 500_000_000L))
      Thread.sleep(50)
    qes.asScala.foreach { case (start, opt, phys) =>
      windows.find { case (_, (a, b)) => start >= a && start <= b }
        .foreach { case (op, _) =>
          val c = ctr(op)
          c.optimizeMs += opt; c.physicalMs += phys
        }
    }
  }

  def window(op: Int): Option[(Long, Long)] = windows.get(op)
}

object Trace {
  private val Line = """^(\S+)\s+(\d+) / (\d+)\s+(\d+) / (\d+)\s*$""".r

  /** Cumulative per-rule (time ns, effective runs) from Catalyst's
    * rule metering, plus a `*total*` entry. */
  def ruleTimes(): Map[String, (Long, Long)] = {
    val per = RuleExecutor.dumpTimeSpent().split("\n").iterator.collect {
      case Line(name, _, total, eff, _) => name -> ((total.toLong, eff.toLong))
    }.toMap
    val m = RuleExecutor.getCurrentMetrics()
    per + ("*total*" -> ((m.time, m.numEffectiveRuns.toLong)))
  }

  /** Wall time covered by none of `spans` inside [a, b] (epoch ms). */
  def uncovered(a: Long, b: Long, spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = a
    spans.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
    math.max(0L, (b - a) - covered)
  }
}
