package graft

import scala.collection.mutable

/** Driver-run benchmark: times every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Methodology:
  *  - deterministic query order (SparkEntry.queries is a ListMap) plus a
  *    separate untimed warmup pass over every query, so per-query codegen,
  *    JIT and ICU-init costs (q19's string functions alone cost ~10 s on
  *    first execution) land outside the timed region;
  *  - results are fully materialized through [[Harness.materialize]];
  *  - failures are recorded per query, excluded from the total, and flip
  *    the exit code — a broken query must never make the bench look faster;
  *  - each query is timed THREE times and the MEDIAN is reported: one slow
  *    outlier per query collapses at 3× the runtime. The samples come from
  *    INTERLEAVED passes over the suite (q1..qN, q1..qN, …), minutes apart,
  *    so one transient stall costs one sample instead of inflating every
  *    back-to-back rep (how r12 archived q72 at 1.95× its true time);
  *  - per-query MIN and an aggregate `noise` (Σ(max−min)/Σmedian) are
  *    emitted too: a median cannot fix SUSTAINED co-located load
  *    (BENCH_r06 read 46.7 s where an idle rerun measured 23.4 s).
  *    `min_total` is the best lower bound a loaded machine can produce;
  *  - a timed pass with noise > 0.5 or errors is RETRIED, up to
  *    SPARK_GRAFT_BENCH_ATTEMPTS passes, and the attempt with the fewest
  *    errors, then the lowest noise, is archived (noise alone could prefer
  *    a pass where a query crashed: its timings leave the denominator).
  *    If no attempt is clean the line still ships with `polluted: true`
  *    and `attempts`; a run with errors is also `failed` and `polluted`,
  *    since its total excludes the failed queries;
  *  - TWO fidelities: the FILE (SPARK_GRAFT_BENCH_OUT, default
  *    ./bench_out.json) carries the full record — full query names, median
  *    and min maps, numeric `sf` — while stdout gets a COMPACT equivalent
  *    (qNN keys, medians only, errors clipped) sized for the driver's
  *    2000-char stdout tail window;
  *  - the file also says what ran the bench (`cpus`, the session's
  *    `default_parallelism`, `codegen_cache_max_entries`) and, per query,
  *    how many classes its timed samples compiled and how long that took
  *    (`codegen_compiles`, `codegen_ms`; `warmup_codegen_*` for the
  *    warmup). With generated code compiled once per JVM the timed samples
  *    compile next to nothing; a large count means compile work is back
  *    on the operation path;
  *  - the dev-loop subset (SPARK_GRAFT_BENCH_ONLY="q72_hybrid_rrf,…", exact
  *    names; the driver never sets it) ends with one untimed profiled run
  *    per query ([[Harness.profile]]: the slowest stages and the executed
  *    plan with its operator metrics) on stderr, after the timed samples.
  */
object Bench {

  /** JVM-wide totals: classes compiled (codegen-cache misses) and the
    * nanoseconds spent compiling them. */
  private def codegen(): (Long, Long) = (
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** One query in an attempt: the median, min and max of its timed
    * samples (0 when it failed), and the classes its samples compiled and
    * the nanoseconds that took. */
  private[graft] final case class Timing(name: String, median: Double,
                                         min: Double, max: Double, ok: Boolean,
                                         compiles: Long, compileNs: Long)

  /** An attempt: its timings, errors and noise, the timed passes run so
    * far, and the data it ran on. */
  private[graft] final case class Record(timings: Seq[Timing],
                                         errors: Seq[String], noise: Double,
                                         attempts: Int, sfDir: String) {
    def dirty: Boolean = noise > 0.5 || errors.nonEmpty
  }

  /** What ran the bench. */
  private[graft] final case class Machine(cpus: Int, parallelism: Int,
                                          codegenCacheMax: String,
                                          warmupCompiles: Long, warmupNs: Long)

  private def header(r: Record): String = {
    val total = r.timings.filter(_.ok).map(_.median).sum
    val minTotal = r.timings.filter(_.ok).map(_.min).sum
    // `sf` as a NUMBER parsed from the dir name (…/sf0.1 -> 0.1); the
    // raw dir rides in `sf_dir` so nothing is lost
    val sfJson = "sf([0-9.]+)$".r.findFirstMatchIn(r.sfDir).map(_.group(1))
      .getOrElse(Verify.jsonStr(r.sfDir))
    f""""metric":"total","value":$total%.3f,"unit":"sec","min_total":$minTotal%.3f,"noise":${r.noise}%.2f,"polluted":${r.dirty},"failed":${r.errors.nonEmpty},"attempts":${r.attempts},"sf":$sfJson"""
  }

  private def perQuery(r: Record)(value: Timing => String): String =
    r.timings.map(t => "\"" + t.name + "\":" + value(t)).mkString("{", ",", "}")

  /** The file's full record. Error messages are escaped in full
    * (Verify.jsonStr): a multi-line exception must not break the record
    * on exactly the failed runs the `failed` flag exists for. */
  private[graft] def fullLine(r: Record, m: Machine): String = {
    val context =
      s""""cpus":${m.cpus},"default_parallelism":${m.parallelism},""" +
        s""""codegen_cache_max_entries":${m.codegenCacheMax},""" +
        s""""warmup_codegen_compiles":${m.warmupCompiles},""" +
        f""""warmup_codegen_ms":${m.warmupNs / 1e6}%.1f"""
    s"""{${header(r)},$context,"sf_dir":${Verify.jsonStr(r.sfDir)},""" +
      s""""queries":${perQuery(r)(t => if (t.ok) f"${t.median}%.3f" else "-1")},""" +
      s""""queries_min":${perQuery(r)(t => if (t.ok) f"${t.min}%.3f" else "-1")},""" +
      s""""codegen_compiles":${perQuery(r)(_.compiles.toString)},""" +
      s""""codegen_ms":${perQuery(r)(t => f"${t.compileNs / 1e6}%.1f")},""" +
      s""""errors":${r.errors.map(Verify.jsonStr).mkString("[", ",", "]")}}"""
  }

  /** The compact stdout twin: qNN keys (the unique name prefix), medians
    * only, errors clipped. */
  private[graft] def compactLine(r: Record): String = {
    val qs = r.timings.map { t =>
      "\"" + t.name.takeWhile(_ != '_') + "\":" +
        (if (t.ok) f"${t.median}%.2f" else "-1")
    }.mkString("{", ",", "}")
    val errs = r.errors.map(e => Verify.jsonStr(e.take(80))).mkString("[", ",", "]")
    s"""{${header(r)},"queries":$qs,"full":"bench_out.json","errors":$errs}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "graft-bench")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(Harness.names(_).toSet)
    val benchQueries = SparkEntry.queries.toSeq.filter { case (n, _) => only.forall(_(n)) }

    val warmup0 = codegen()
    benchQueries.foreach { case (name, fn) =>
      // a failure doesn't abort the warmup (the timed pass re-raises and
      // flags the query), but it isn't silent either
      try Harness.materialize(fn(spark, sfDir)) catch {
        case e: Throwable =>
          println(s"[bench] warmup failed for $name: " +
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    val warmup1 = codegen()

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    def timedPass(attempt: Int): Record = {
      val errors = mutable.ListBuffer.empty[String]
      val broken = mutable.Set.empty[String]
      val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
      val compiled = mutable.Map.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
      for (_ <- 0 until reps; (name, fn) <- benchQueries if !broken(name)) {
        val (c0, ns0) = codegen()
        try {
          val (_, secs) = Harness.timed(Harness.materialize(fn(spark, sfDir)))
          times.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += secs
        } catch {
          // a failure on any pass marks the query broken (no partial
          // medians over a flaky query)
          case e: Throwable =>
            errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
            broken += name
        } finally {
          val (c1, ns1) = codegen()
          val (c, ns) = compiled(name)
          compiled(name) = (c + c1 - c0, ns + ns1 - ns0)
        }
      }
      val timings = benchQueries.map { case (name, _) =>
        val ts = if (broken(name)) Seq.empty[Double]
          else times.get(name).fold(Seq.empty[Double])(_.toSeq)
        val (c, ns) = compiled(name)
        if (ts.isEmpty) Timing(name, 0.0, 0.0, 0.0, ok = false, c, ns)
        else Timing(name, ts.sorted.apply(ts.length / 2), ts.min, ts.max,
          ok = true, c, ns)
      }
      // idle machine ≈ 0.0–0.3; a sustained co-located load pushes it
      // well past 1
      val total = timings.filter(_.ok).map(_.median).sum
      val spread = timings.filter(_.ok).map(t => t.max - t.min).sum
      Record(timings, errors.toList, if (total > 0) spread / total else 0.0,
        attempt, sfDir)
    }
    val maxAttempts =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt.max(1)
    var best = timedPass(1)
    var attempt = 1
    while (best.dirty && attempt < maxAttempts) {
      System.err.println(
        f"bench attempt $attempt%d dirty (noise ${best.noise}%.2f, " +
          f"${best.errors.size}%d errors) — retrying")
      attempt += 1
      val next = timedPass(attempt)
      if (next.errors.size < best.errors.size ||
          (next.errors.size == best.errors.size && next.noise < best.noise))
        best = next
    }
    val record = best.copy(attempts = attempt)

    if (only.isDefined) benchQueries.foreach { case (name, fn) =>
      try System.err.print(
        Harness.profile(spark, name)(Harness.materialize(fn(spark, sfDir))))
      catch {
        case e: Throwable => System.err.println(
          s"[bench] profile failed for $name: ${e.getClass.getSimpleName}")
      }
    }

    if (record.dirty) System.err.println(
      f"POLLUTED: bench noise ${record.noise}%.2f, ${record.errors.size}%d errors after " +
        f"$attempt attempts — the total is not comparable to a clean run " +
        "(min_total over the surviving queries only)")
    val machine = Machine(Runtime.getRuntime.availableProcessors,
      spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.codegen.cache.maxEntries"),
      warmup1._1 - warmup0._1, warmup1._2 - warmup0._2)
    Harness.emit(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"),
      fullLine(record, machine), compactLine(record))
    clearCaches(spark)
    spark.stop()
    if (record.errors.nonEmpty) sys.exit(1)
  }
}
