package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

final case class OpResult(id: Int, kind: String, key: String, ns: Long,
                          cpuNs: Long, var ok: Boolean, var err: String)

/** What a workload needs from the harness: the session, the trace, the
  * plan, and the closed-loop timer that records every operation. */
final class Ctx(val spark: SparkSession, val trace: Trace, job: JsonNode) {
  val plan: JsonNode = job.get("plan")
  val dataDir: String = job.get("data_dir").asText
  val workDir: String = job.get("work_dir").asText
  private val plantWrong = job.path("plant_wrong").asBoolean(false)
  val results = mutable.ArrayBuffer.empty[OpResult]
  var busyNs, cpuNs = 0L

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpu(): Long = os.getProcessCpuTime

  /** Run one operation, time it, and check its answer. A thrown error or
    * a failed check marks the operation failed. */
  def timed(kind: String, key: String)(body: => Answer)(
      check: Answer => Option[String]): Option[Answer] = {
    val id = results.size
    val c0 = cpu()
    val t0 = System.nanoTime
    val out = try Right(trace.op(id)(body)) catch { case e: Throwable => Left(e) }
    val ns = System.nanoTime - t0
    val opCpu = cpu() - c0
    busyNs += ns; cpuNs += opCpu
    val answer = out.map(planted(Seq(id), _))
    val err = answer match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      case Right(a) => check(a)
    }
    results += OpResult(id, kind, key, ns, opCpu, err.isEmpty, err.orNull)
    answer.toOption
  }

  /** Time a block whose operations are reported separately (`batch`). */
  def block(body: => Unit): Unit = {
    val c0 = cpu()
    val t0 = System.nanoTime
    body
    busyNs += System.nanoTime - t0; cpuNs += cpu() - c0
  }

  /** An operation measured by the program itself (a micro-batch). */
  def batch(kind: String, ms: Long): Unit = {
    val id = results.size
    val ok = !(plantWrong && id == 2)
    results += OpResult(id, kind, "", ms * 1000000L, 0L, ok, if (ok) null else "planted")
  }

  /** `a`, or with `--plant-wrong` a wrong answer for operation 2. */
  def planted(ids: Seq[Int], a: Answer): Answer =
    if (plantWrong && ids.contains(2)) a.copy(rows = a.rows + 1) else a

  def fail(from: Int, msg: String): Unit =
    results.drop(from).foreach { r => r.ok = false; r.err = msg }

  def fail(ids: Seq[Int], msg: String): Unit =
    ids.foreach { i => results(i).ok = false; results(i).err = msg }

  def dumpPath(name: String): String = new File(workDir, s"dumps/$name").getPath

  def dump(name: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(dumpPath(name))
}

/** Benchmark driver. `run.py` writes the job file (seeded plan, data
  * directory, run length) and reads the result file this writes. */
object Main {
  private val mapper = new ObjectMapper()

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(-1.0)

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o => o
  }

  def main(args: Array[String]): Unit = {
    val job = mapper.readTree(new File(args(0)))
    val workload = job.get("workload").asText
    val seconds = job.get("seconds").asDouble
    val rounds = job.get("setup_rounds").asInt
    val traced = job.get("trace").asInt == 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString).toInt

    val t0 = System.nanoTime
    val spark = graft.GraftSession.local(cpus, s"perfbench-$workload")
    val sessionS = (System.nanoTime - t0) / 1e9
    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, trace, job)
    val w = Workload(workload, ctx)

    def secs(body: => Unit): Double = {
      val s0 = System.nanoTime; body; (System.nanoTime - s0) / 1e9
    }
    val setup = (0 until rounds).map(_ => secs {
      Workload.resetProgram(spark); w.prepare()
    })
    // The JIT is still compiling Catalyst and the program through the
    // first passes, and a measurement that starts on that slope varies
    // with how far down it a run happens to be.
    val warmupS = secs { for (_ <- 0 until w.warmups) w.warmup() }
    val passes = math.max(1, math.ceil(seconds / w.passSeconds).toInt)
    val m0 = System.nanoTime
    for (_ <- 0 until passes) { w.step(); while (!w.passDone) w.step() }
    val wallS = (System.nanoTime - m0) / 1e9
    w.finish()
    trace.settle()

    val layers = if (!traced) Map.empty[String, Any] else ctx.results.map { r =>
      val c = Option(trace.counters.get(r.id)).getOrElse(new OpCounters)
      val rules = trace.rules.getOrElse(r.id, Map.empty)
      def ruleSum(p: String => Boolean) = rules.collect { case (k, v) if p(k) => v }
      val ra = ruleSum(_.contains("RaRules"))
      val gap = trace.window(r.id).map { case (a, b) => Trace.uncovered(a, b, c.stageSpans.toSeq) }
        .getOrElse(0L)
      r.id.toString -> Map(
        "catalog.resolutions" -> c.resolutions, "catalog.resolve_ms" -> c.resolveMs,
        "call_jobs" -> c.callJobs,
        "planner.optimize_ms" -> c.optimizeMs, "planner.physical_ms" -> c.physicalMs,
        "planner.rule_ms" -> rules.get("*total*").map(_._1 / 1e6).getOrElse(0.0),
        "planner.resolve_data_source_ms" ->
          ruleSum(_.endsWith("ResolveDataSource")).map(_._1).sum / 1e6,
        "rules.ra_ms" -> ra.map(_._1).sum / 1e6,
        "rules.ra_effective" -> ra.map(_._2).sum,
        "exec.jobs" -> c.jobs, "exec.stages" -> c.stages, "exec.tasks" -> c.tasks,
        "exec.task_ms" -> c.taskMs, "exec.task_cpu_ms" -> c.taskCpuNs / 1e6,
        "exec.gc_ms" -> c.gcMs, "exec.sched_gap_ms" -> gap,
        "exec.shuffle_write_mb" -> c.shuffleWrite / 1048576.0,
        "exec.shuffle_read_mb" -> c.shuffleRead / 1048576.0,
        "exec.spill_mb" -> c.spill / 1048576.0)
    }.toMap

    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "context" -> Map(
        "cpus" -> Runtime.getRuntime.availableProcessors,
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "spark_graft_cpus" -> cpus,
        "master" -> spark.sparkContext.master,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jvm_args" -> rt.getInputArguments.asScala.filter(_.startsWith("-X")).toSeq,
        "spark_version" -> spark.version),
      "session_s" -> sessionS,
      "setup_rounds_s" -> setup,
      "warmup_s" -> warmupS,
      "wall_s" -> wallS,
      "passes" -> passes,
      "warmups" -> w.warmups,
      "busy_s" -> ctx.busyNs / 1e9,
      "cpu_s" -> ctx.cpuNs / 1e9,
      "peak_rss_mb" -> peakRssMb(),
      "ops" -> ctx.results.map(r => Map("id" -> r.id, "kind" -> r.kind, "key" -> r.key,
        "ms" -> r.ns / 1e6, "cpu_ms" -> r.cpuNs / 1e6, "ok" -> r.ok, "err" -> r.err)),
      "extra" -> w.extra,
      "layers" -> layers)
    Files.writeString(Paths.get(job.get("out").asText),
      mapper.writeValueAsString(toJava(result)))
    if (traced) {
      val lines = trace.spans.map(s => mapper.writeValueAsString(toJava(Map(
        "op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "t0" -> s.t0, "t1" -> s.t1))))
      Files.write(Paths.get(job.get("spans").asText), lines.asJava)
    }
    graft.clearCaches(spark)
    spark.stop()
  }
}
