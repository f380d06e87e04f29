package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.api.Engine
import graft.catalog.DataDictionary
import graft.ops.Retrieval
import graft.streaming.{DocumentStreams, EventStreams}

/** A result reduced to its row count and an order-independent hash. */
final case class Answer(rows: Long, hash: Long)

object Answer {
  val Empty: Answer = Answer(0, 0)

  def of(rows: Array[Row]): Answer = Answer(rows.length, rows.iterator.map(r =>
    MurmurHash3.stringHash(r.toSeq.map(String.valueOf).mkString("\u0001"))
      .toLong & 0xffffffffL).sum)

  def of(df: DataFrame): Answer = of(df.collect())

  /** The count and hash aggregates `observe` attaches to a result: the
    * same pass that materializes it also fingerprints it. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.indices.map { i =>
      val c = df.col(s"`${df.columns(i).replace("`", "``")}`")
      if (hasMap(df.schema.fields(i).dataType)) to_json(c) else c
    }
    df.observe(obs, count(lit(1)).as("rows"),
      sum(xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL))).as("hash"))
  }

  def from(obs: Observation): Answer = {
    val m = obs.get
    Answer(m("rows").asInstanceOf[Long],
      Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L))
  }
}

/** One benchmark workload. `prepare` rebuilds the state a user needs
  * before the first operation (the harness resets the program's caches
  * before each call and repeats it); `warmup` then runs each distinct
  * operation once, filling what the program fills on first use, and its
  * first call
  * records the reference answers (and the dumps the DuckDB check reads);
  * `step` runs timed operations through `ctx`. */
trait Workload {
  def prepare(): Unit
  def warmup(): Unit
  def step(): Unit
  /** True between passes over the workload's distinct operations. */
  def passDone: Boolean = true
  /** About how long one pass takes at the commit that defined the
    * benchmark (4 cores). The harness measures a fixed number of whole
    * passes, ceil(seconds / passSeconds), so every run of every commit
    * does the same work in about the requested time. */
  def passSeconds: Double
  /** Warm-up passes before the measurement. */
  def warmups: Int = 2
  /** Runs untimed after the measurement (checks that need it). */
  def finish(): Unit = ()
  /** Workload-specific figures for the result file. */
  def extra: Map[String, Any] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ra_doors" => new RaDoors(ctx)
    case "contract_store_stream" => new ContractStoreStream(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def resetProgram(spark: SparkSession): Unit = {
    graft.clearCaches(spark)
    spark.catalog.clearCache()
  }

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(rm)
    f.delete(): Unit
  }

  def strings(n: JsonNode): Seq[String] = {
    val b = Seq.newBuilder[String]
    n.elements().forEachRemaining(x => b += x.asText)
    b.result()
  }
}

/** The paper's path: the same seeded σ/π/ρ/⨝/× query through the SQL
  * door and the radb door of `graft.api.Engine`. */
final class RaDoors(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private final case class Q(id: String, sql: String, ra: String)
  private val qs = {
    val b = Seq.newBuilder[Q]
    ctx.plan.get("queries").elements().forEachRemaining(n =>
      b += Q(n.get("id").asText, n.get("sql").asText, n.get("ra").asText))
    b.result()
  }
  private val dd = DataDictionary.fromJson(scala.io.Source.fromInputStream(
    getClass.getResourceAsStream("/tpch_dd.json"), "UTF-8").mkString)
  private var eng: Engine = _
  private val refs = mutable.HashMap.empty[(String, String), Answer]
  private var i = 0

  private def door(q: Q, which: String): Array[Row] = {
    val df = if (which == "sql") {
      trace.span("api.parse")(spark.sessionState.sqlParser.parsePlan(q.sql))
      trace.span("api.analyze")(eng.sqlDistinct(q.sql))
    } else trace.span("api.analyze")(eng.ra(q.ra))
    trace.span("exec.materialize", "exec")(df.collect())
  }

  /** The first answer of a (query, door) becomes its reference; the SQL
    * door's is also dumped for the DuckDB check. */
  private def record(q: Q, w: String, rows: Array[Row]): Answer = {
    val a = Answer.of(rows)
    if (!refs.contains((q.id, w))) {
      refs((q.id, w)) = a
      if (w == "sql") ctx.dump(q.id, spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), eng.sqlDistinct(q.sql).schema))
    }
    a
  }

  private def verdict(q: Q, w: String, a: Answer): Option[String] =
    (refs.get((q.id, "sql")), refs.get((q.id, "ra"))) match {
      case (Some(s), Some(r)) if s != r => Some(s"doors disagree: sql $s, ra $r")
      case _ if a != refs((q.id, w)) => Some(s"answer $a != reference ${refs((q.id, w))}")
      case _ => None
    }

  def prepare(): Unit =
    eng = trace.span("catalog.register")(new Engine(spark, dd, ctx.dataDir))

  def warmup(): Unit = for (q <- qs; w <- Seq("sql", "ra")) record(q, w, door(q, w))

  override def passDone: Boolean = i % (2 * qs.size) == 0
  def passSeconds: Double = 2.0

  def step(): Unit = {
    val q = qs((i / 2) % qs.size)
    val w = if (i % 2 == 0) "sql" else "ra"
    i += 1
    var rows: Array[Row] = null
    ctx.timed(s"door_$w", q.id) { rows = door(q, w); Answer.of(rows) } { a =>
      record(q, w, rows)
      verdict(q, w, a)
    }
  }
}

/** A seed-chosen sample of the contract queries, each timed from the
  * query-function call through `noop` materialization. */
final class ContractMix(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private val names = Workload.strings(ctx.plan.get("queries"))
  private val fns = graft.SparkEntry.queries
  private val rowsOnly = graft.SparkEntry.rowsOnlyQueries
  private val refs = mutable.HashMap.empty[String, Answer]
  private var i = 0
  private val opIds = mutable.HashMap.empty[String, List[Int]]

  /** The timed operation: the query-function call through a plain
    * `noop` write, as a user would run it. */
  private def run(name: String): Unit = {
    val df = trace.span("queries.call", "call")(fns(name)(spark, ctx.dataDir))
    trace.span("exec.materialize", "exec")(noop(df))
  }

  /** The query's answer, fingerprinted in the pass that materializes it. */
  private def answer(name: String, sink: DataFrame => Unit): Answer = {
    val obs = Observation()
    sink(Answer.observed(fns(name)(spark, ctx.dataDir), obs))
    Answer.from(obs)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Relation resolution and the eager preludes run in the query
    * function, so constructing each sampled query is the set-up. */
  def prepare(): Unit =
    names.foreach(n => trace.span("queries.call", "call")(fns(n)(spark, ctx.dataDir)))

  /** The first warm-up records each query's reference answer (and the
    * dump the DuckDB check reads); every warm-up runs the timed path. */
  def warmup(): Unit = names.foreach { n =>
    if (!refs.contains(n))
      refs(n) = answer(n, df => df.write.mode("overwrite").parquet(ctx.dumpPath(n)))
    run(n)
  }

  override def passDone: Boolean = i % names.size == 0
  def passSeconds: Double = 3.0

  def step(): Unit = {
    val n = names(i % names.size)
    i += 1
    opIds(n) = ctx.results.size :: opIds.getOrElse(n, Nil)
    ctx.timed("query", n) { run(n); Answer.Empty }(_ => None)
  }

  /** The timed operations write to `noop`, so the fingerprint is kept
    * out of their time: after the measurement each sampled query runs
    * once more, untimed, and its answer decides all of its operations. */
  override def finish(): Unit = names.foreach { n =>
    val ids = opIds.getOrElse(n, Nil)
    val ref = refs(n)
    val wrong = try {
      val a = ctx.planted(ids, answer(n, noop))
      if (a.rows != ref.rows || (!rowsOnly(n) && a.hash != ref.hash))
        Some(s"answer $a != reference $ref")
      else None
    } catch { case e: Exception => Some(s"check run failed: ${e.getMessage}") }
    wrong.foreach(ctx.fail(ids, _))
  }

  override def extra: Map[String, Any] = Map(
    "oracle" -> names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap,
    "rows_only" -> names.filter(rowsOnly))
}

/** Build, probe, save, load and probe again a `PostingsIndex` over a
  * seeded slice of the documents; the loaded index must answer exactly
  * as the in-memory one did. One cycle is one pass. */
final class StoreRoundtrip(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private final case class Cycle(n: Int, docLo: Long, docHi: Long, probeDocs: Seq[Long])
  private val cycles = {
    val b = Seq.newBuilder[Cycle]
    ctx.plan.get("cycles").elements().forEachRemaining { c =>
      val ids = Seq.newBuilder[Long]
      c.get("probe_docs").elements().forEachRemaining(x => ids += x.asLong)
      b += Cycle(c.get("cycle").asInt, c.get("doc_lo").asLong, c.get("doc_hi").asLong, ids.result())
    }
    b.result()
  }
  private var docs: DataFrame = _
  private var i = 0
  private var storedBytes = List.empty[Long]
  private var savedFiles = List.empty[Long]

  /** One full cycle; with `timed = false` (set-up) nothing is recorded. */
  private def cycle(c: Cycle, timed: Boolean): Unit = {
    val dir = new File(ctx.workDir, s"store/c$i").getPath
    i += 1
    Workload.rm(new File(dir))
    def op(kind: String, check: Answer => Option[String] = _ => None)(
        body: => Answer): Answer =
      if (timed) ctx.timed(kind, s"c${c.n}")(trace.span(s"ops.${kind.takeWhile(_ != '_')}")(body))(check)
        .getOrElse(Answer(-1, -1))
      else body
    val sliceDocs = docs.filter(col("doc_id").between(c.docLo, c.docHi - 1))
    val queries = docs.filter(col("doc_id").isin(c.probeDocs: _*)).select(
      col("doc_id").as("query_id"),
      concat_ws(" ", slice(split(col("text"), " "), 1, 6)).as("qtext"))
    def probe(p: Retrieval.PostingsIndex) = Answer.of(Retrieval.probePostings(p, queries))

    var post: Retrieval.PostingsIndex = null
    op("build_postings") { post = Retrieval.fitPostings(sliceDocs); Answer.Empty }
    val before = op("probe_postings")(probe(post))
    op("save_postings") { post.save(dir); Answer.Empty }
    if (timed) {
      val files = listFiles(new File(dir))
      storedBytes ::= files.map(_.length).sum
      savedFiles ::= files.count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_")).toLong
    }
    op("load_postings") { post = Retrieval.loadPostings(spark, dir); Answer.Empty }
    op("probe_postings", a =>
      if (before.rows <= 0) Some(s"empty in-memory answer $before")
      else if (a != before) Some(s"loaded answer $a != in-memory $before") else None)(probe(post))
    Workload.rm(new File(dir))
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listFiles) else Seq(f)

  def prepare(): Unit = docs = spark.read.parquet(s"${ctx.dataDir}/documents.parquet")

  def warmup(): Unit = cycle(cycles.head, timed = false)

  def step(): Unit = cycle(cycles(i % cycles.size), timed = true)
  def passSeconds: Double = 3.5

  override def extra: Map[String, Any] = Map(
    "stored_bytes_per_cycle" -> storedBytes.reverse,
    "saved_files_per_cycle" -> savedFiles.reverse)
}

/** A fixed, seed-generated input drained with `Trigger.AvailableNow`
  * through the sessionizer and the document clean/scrub pair, each from
  * a fresh checkpoint; every drain's egress must equal the batch twin's
  * answer on the same input. */
final class StreamDrain(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private val in = new File(ctx.dataDir)
  private var twins: Map[String, Answer] = Map.empty
  private var drains = 0
  private var timedDrains = 0
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var inputRows = 0L
  private var drainNs = 0L

  private val evSchema = spark.read.parquet(new File(in, "events").getPath).schema
  private val docSchema = spark.read.parquet(new File(in, "docs").getPath).schema

  private def events(dir: String, stream: Boolean): DataFrame =
    if (stream) spark.readStream.schema(evSchema).option("maxFilesPerTrigger", 1)
      .parquet(dir)
    else spark.read.schema(evSchema).parquet(dir)

  private def docs(dir: String, stream: Boolean): DataFrame =
    if (stream) spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1)
      .parquet(dir)
    else spark.read.schema(docSchema).parquet(dir)

  /** The egress of each pipeline, reduced to columns every correct
    * answer shares: the sessionizer's whole row, and for documents the
    * fingerprint, text and split (which duplicate survives the dedup is
    * the engine's choice). */
  private val pipelines: Seq[(String, (String, Boolean) => DataFrame)] = Seq(
    // the batch twin of the event-time sessionizer is `sessionize`: the
    // same session merge without the timeout, which needs a watermark
    "sessions" -> ((d: String, s: Boolean) =>
      (if (s) EventStreams.sessionizeEventTime(spark, events(d, s))
       else EventStreams.sessionize(spark, events(d, s))).toDF("user_id", "start_us", "n")),
    "docs" -> ((d: String, s: Boolean) => {
      val scrubbed = DocumentStreams.scrubStream(docs(d, s))
      (if (s) DocumentStreams.cleanStream(scrubbed) else cleanTwin(scrubbed))
        .select(col("fp"), col("text"), col("split"))
    }))

  /** `cleanStream`'s gates and split over a batch, with a plain dedup on
    * the fingerprint: the same answer as its within-watermark dedup on
    * this input, where equal texts lie inside the watermark. */
  private def cleanTwin(docs: DataFrame): DataFrame = {
    import graft.ops.TextOps._
    docs.filter(tokenCount(col("text")) >= 15 &&
        langGuess(col("text")) === col("lang") && qualityScore(col("text")) >= 0.6)
      .withColumn("fp", fingerprint(col("text")))
      .dropDuplicates("fp")
      .withColumn("split", splitAssign(col("text")))
  }

  private def drain(sub: String, timed: Boolean): Map[String, Answer] = {
    val run = new File(ctx.workDir, s"stream/d$drains")
    drains += 1
    Workload.rm(run)
    val out = pipelines.map { case (name, pipe) =>
      val egress = new File(run, s"$name-out").getPath
      val q: StreamingQuery = pipe(src(name, sub), true).writeStream.format("parquet")
        .option("checkpointLocation", new File(run, s"$name-ckpt").getPath)
        .trigger(Trigger.AvailableNow()).start(egress)
      def await(): Unit = { q.awaitTermination(); q.exception.foreach(e => throw e) }
      if (timed) {
        val first = ctx.results.size
        val t0 = System.nanoTime
        ctx.block(await())
        drainNs += System.nanoTime - t0
        q.recentProgress.foreach { p =>
          val d = p.durationMs
          def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          inputRows += p.numInputRows
          val st = p.stateOperators.headOption
          progress += Map(
            "query" -> name, "rows" -> p.numInputRows,
            "trigger_ms" -> ms("triggerExecution"), "get_batch_ms" -> ms("getBatch"),
            "planning_ms" -> ms("queryPlanning"), "add_batch_ms" -> ms("addBatch"),
            "wal_commit_ms" -> ms("walCommit"),
            "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
            "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
            "late_dropped" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
          ctx.batch(s"batch_$name", ms("triggerExecution"))
        }
        val got = Answer.of(spark.read.parquet(egress))
        if (got != twins(name)) ctx.fail(first, s"$name egress $got != batch twin ${twins(name)}")
        name -> got
      } else { await(); name -> Answer.Empty }
    }.toMap
    Workload.rm(run)
    out
  }

  /** A drain's set-up is building the two streaming plans. */
  def prepare(): Unit = pipelines.foreach { case (name, pipe) => pipe(src(name, ""), true) }

  def warmup(): Unit = {
    if (twins.isEmpty) twins = pipelines.map { case (name, pipe) => name -> Answer.of(pipe(src(name, ""), false)) }.toMap
    drain("_warm", timed = false)
  }

  private def src(name: String, sub: String): String =
    new File(in, (if (name == "sessions") "events" else "docs") + sub).getPath

  def step(): Unit = { timedDrains += 1; drain("", timed = true) }
  def passSeconds: Double = 3.5

  override def extra: Map[String, Any] = Map(
    "input_rows" -> inputRows, "drain_s" -> drainNs / 1e9, "drains" -> timedDrains, "batches" -> progress.toSeq, "twins" -> twins.map {
      case (k, a) => k -> Map("rows" -> a.rows, "hash" -> a.hash) })
}

/** The user-facing surface in one closed loop: each pass runs the
  * contract sample, one stored-artifact round trip and one stream
  * drain, in that order, so the contract queries, the write path and
  * the micro-batch loop are measured in the same run. */
final class ContractStoreStream(ctx: Ctx) extends Workload {
  private val parts = Seq(new ContractMix(ctx), new StoreRoundtrip(ctx), new StreamDrain(ctx))
  private var at = 0

  def prepare(): Unit = parts.foreach(_.prepare())
  def warmup(): Unit = parts.foreach(_.warmup())
  override def finish(): Unit = parts.foreach(_.finish())

  def step(): Unit = {
    parts(at).step()
    if (parts(at).passDone) at = (at + 1) % parts.size
  }

  override def passDone: Boolean = at == 0 && parts.head.passDone
  override def warmups: Int = 1
  def passSeconds: Double = parts.map(_.passSeconds).sum
  override def extra: Map[String, Any] = parts.map(_.extra).reduce(_ ++ _)
}
