package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryListener}

/** Streaming throughput evidence (round-6 verdict #4): StreamingSpec
  * proves the streaming pipelines' SEMANTICS; nothing measured the
  * streaming PATH. This main drives the rate source through the
  * production stack — event-time sessionizer (`flatMapGroupsWithState`
  * with event-time timeout, the stateful heart) → checkpointed
  * foreachBatch parquet egress — and reports sustained rows/s.
  *
  * Event time is SYNTHESIZED from the rate counter (1 synthetic second
  * per row) rather than taken from the wall clock: with ~1k rows/s/user
  * of wall-clock arrivals no session would ever see a gap, so a
  * wall-clock run measures an idle state store. Accelerated event time
  * makes the watermark race forward, so sessions OPEN, TIMEOUT, CLOSE
  * and EGRESS continuously — the state machinery is exercised at full
  * rate, which is the thing worth measuring.
  *
  * Output: one JSON line (stdout + SPARK_GRAFT_STREAM_OUT file):
  * `{"metric":"stream_sessionize_rows_per_sec","value":...}` with input
  * row count, egressed session count, and elapsed seconds.
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    // Sampled BEFORE the session spins up: a system already busy when
    // the bench starts means the row will understate the pipeline (the
    // early-r8 508k/359k state-store rows were exactly this — archived
    // from a driver-loaded machine and only caught by idle reruns). The
    // batch Bench self-flags with intra-run `noise`; a 20 s streaming
    // run has no second sample to compare, so the pre-run load average
    // is the honest proxy.
    val preload = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val cpus = Runtime.getRuntime.availableProcessors
    // Banded, not binary (r8 advice): the old single threshold
    // (preload > 0.25*cpus = 8.0 on this box) let a load-7 run archive
    // as clean. For a throughput bench ANY competing work understates
    // the pipeline, so "clean" demands a genuinely idle box (≤ 2
    // absolute), mid-load runs are "loaded" (usable for plumbing, not
    // for archived throughput claims), and the old threshold now marks
    // "polluted". The archive rule keys on load_band == "clean".
    // min(2.0, cpus*0.25), not 2.0 flat (r9 advice): on a small box
    // (< 8 cpus) a flat 2.0 would LOOSEN the old quarter-of-cores rule
    // — load 1.9 on 2 cpus is a saturated machine, not a clean one.
    // Loaded cutoff = max(quarter-of-cores, 2× clean) (r10 advice): on
    // ≤ 8 cpus the two cutoffs used to coincide, making the middle band
    // unreachable — mid-load runs jumped straight to polluted.
    val cleanCut = math.min(2.0, cpus * 0.25)
    val loadBand =
      if (preload <= cleanCut) "clean"
      else if (preload <= math.max(cpus * 0.25, 2 * cleanCut)) "loaded"
      else "polluted"
    val polluted = loadBand != "clean"
    if (polluted) System.err.println(
      f"$loadBand%s: pre-run load average $preload%.1f on $cpus cpus — " +
        "throughput will understate the pipeline; rerun idle")

    val spark = GraftSession.local(appName = "graft-streambench")
    val rps = sys.env.getOrElse("SPARK_GRAFT_STREAM_RPS", "200000").toInt
    val secs = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECS", "20").toInt
    val users = 1000

    // State-store backend experiment (round-7 verdict #7): the default
    // HDFS-backed provider keeps state as in-memory maps + checkpoint
    // files; RocksDB keeps it off-heap with incremental snapshots — the
    // backend a production cluster would run for large state. Selectable
    // so the two can be measured head-to-head on the SAME pipeline:
    // SPARK_GRAFT_STATE_STORE=rocksdb|hdfs (default hdfs — measured
    // faster here: tiny per-user state, so provider overhead dominates).
    val stateStore = sys.env.getOrElse("SPARK_GRAFT_STATE_STORE", "hdfs")
    // fail loudly on a typo: silently running hdfs while LABELING the
    // JSON line with the bogus string would corrupt the evidence record
    require(stateStore == "hdfs" || stateStore == "rocksdb",
      s"SPARK_GRAFT_STATE_STORE must be 'hdfs' or 'rocksdb', got '$stateStore'")
    if (stateStore == "rocksdb") spark.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

    val dir = Files.createTempDirectory("graft-streambench")
    val out = dir.resolve("sessions").toString
    val ckpt = dir.resolve("ckpt").toString

    // Robust input accounting: recentProgress is a bounded ring buffer, a
    // listener sums every batch's numInputRows no matter how many fire.
    val inputRows = new java.util.concurrent.atomic.AtomicLong(0)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        inputRows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })

    // rate → the events shape the sessionizer consumes. user_id cycles
    // over `users`, so consecutive events of one user sit `users`
    // synthetic seconds apart — far past the 1-minute gap, so every event
    // closes its user's previous session once the watermark passes it.
    val events = spark.readStream.format("rate")
      .option("rowsPerSecond", rps)
      .option("numPartitions", 8)
      .load()
      .select(
        timestamp_micros(col("value") * 1000000L).as("ts"),
        (col("value") % users).as("user_id"))

    // Pipeline under test: the sessionizer (default) or the document
    // ingest cleaner (SPARK_GRAFT_STREAM_MODE=clean) — the second
    // streaming path with per-row expression work (gate + fingerprint)
    // in front of its state store, so the two modes bracket the
    // state-light and expression-heavy ends of the streaming surface.
    val mode = sys.env.getOrElse("SPARK_GRAFT_STREAM_MODE", "sessionize")
    require(Set("sessionize", "clean", "flag", "score", "scrub", "spanflag",
        "nbscore", "bpscrub").contains(mode),
      s"SPARK_GRAFT_STREAM_MODE must be 'sessionize', 'clean', 'flag', " +
        s"'score', 'scrub', 'spanflag', 'nbscore' or 'bpscrub', got '$mode'")
    // Hoisted so the JSON line can self-describe the flag-mode config:
    // the r9 evidence runs needed log-filename archaeology to tell a
    // 50k-broadcast row from a 500k-SMJ row, which is exactly the kind
    // of unlabeled measurement the tenancy protocol exists to prevent.
    val flagBase = sys.env.getOrElse("SPARK_GRAFT_FLAG_BASE", "200000").toInt
    val flagBcast = sys.env.get("SPARK_GRAFT_FLAG_BCAST").contains("1")
    // SPARK_GRAFT_FLAG_STORED=bucketed probes the PARTITIONED stored
    // index (saveBucketed → loadIndexBucketed): the stored side needs no
    // per-batch exchange/sort, so this is the path for bases past the
    // broadcast boundary (r10 verdict #3)
    val flagStored = sys.env.getOrElse("SPARK_GRAFT_FLAG_STORED", "parquet")
    require(Set("parquet", "bucketed").contains(flagStored),
      s"SPARK_GRAFT_FLAG_STORED must be 'parquet' or 'bucketed', got '$flagStored'")
    require(!(flagBcast && flagStored == "bucketed"),
      "FLAG_BCAST and FLAG_STORED=bucketed are mutually exclusive paths")

    val sink =
      if (mode == "flag") {
        // Streaming incremental dedup: arriving docs flagged against a
        // 200k-doc static base via the persisted CorpusIndex (the
        // production shape — the static side re-executes per micro-batch,
        // so the index MUST be materialized once, before the clock).
        // text(key) = 45 words in a key-disjoint range (stride 50 > 45 +
        // shingle margin), so key k matches base doc k exactly and
        // nothing else: stream keys range over 2×nBase, making HALF the
        // input near-dups — every flag at the egress is one matched doc.
        // Keys walk the 2×nBase residues via an odd-prime multiplier
        // (bijective: gcd(p, 2·nBase)=1), NOT `value mod 2·nBase`: a
        // 60 s run consumes only a prefix of the value space, and with
        // the plain mod a base bigger than the consumed prefix made
        // that prefix 100% matches (an r9 500k-base row measured
        // pairs == input docs) — the match mix must be ~50% for EVERY
        // consumed prefix or rows at different base sizes don't compare.
        val nBase = flagBase
        def textOf(key: org.apache.spark.sql.Column) =
          concat_ws(" ", transform(sequence(lit(0), lit(44)),
            j => concat(lit("w"), (key * 50 + j).cast("string"))))
        val base = spark.range(nBase.toLong)
          .select(col("id").as("doc_id"), textOf(col("id")).as("text"))
        // The production round trip, not an in-session shortcut: build →
        // save (two relations + manifest) → loadIndex (re-checks the
        // hash scheme) → persist. The stream below probes the STORED
        // index — exactly what a cluster restarting between compaction
        // and ingest would do.
        val built = ops.Dedup.buildIndex(base, "doc_id", "text")
        val index =
          if (flagStored == "bucketed") {
            // partitioned stored form: bucketed tables, persisted like
            // the parquet path (same memory budget) — the cached scan
            // KEEPS the bucket layout, so each micro-batch skips the two
            // stored-side exchanges the plain form pays; drop the
            // persist to measure the beyond-cache regime (disk-resident
            // stored side, still exchange/sort-free)
            built.saveBucketed("graft_flag_idx")
            val idx = ops.Dedup.loadIndexBucketed(spark, "graft_flag_idx")
              .persist()
            idx.bands.count(); idx.shingles.count() // build before the clock
            idx
          } else {
            val indexDir = java.nio.file.Files
              .createTempDirectory("graft-flag-index").toString
            built.save(indexDir)
            val idx = ops.Dedup.loadIndex(spark, indexDir).persist()
            idx.bands.count(); idx.shingles.count() // build before the clock
            idx
          }
        val docs = spark.readStream.format("rate")
          .option("rowsPerSecond", rps)
          .option("numPartitions", 8)
          .load()
          .select(col("timestamp").as("ts"), col("value").as("doc_id"),
            textOf(pmod(col("value") * lit(1000003L), lit(2L * nBase)))
              .as("text"))
        streaming.DocumentStreams.flagAgainstBaseIndexed(docs, index,
          broadcastIndex = flagBcast)
      }
      else if (mode == "spanflag") {
        // Streaming ingest span flags: arriving docs' rolling window
        // fingerprints semi-joined against the STORED SpanIndex of a
        // flagBase-doc base (the fit → save → load production round
        // trip, fp set persisted before the clock). Same key-disjoint
        // 45-word generator and odd-prime key walk as flag mode, so
        // HALF the arriving docs embed a base doc's text verbatim —
        // each match emits its 31 window flags (W=15 over 45 tokens),
        // every non-match still pays the full rolling scan + probe.
        val nBase = flagBase
        def textOf(key: org.apache.spark.sql.Column) =
          concat_ws(" ", transform(sequence(lit(0), lit(44)),
            j => concat(lit("w"), (key * 50 + j).cast("string"))))
        val base = spark.range(nBase.toLong)
          .select(col("id").as("doc_id"), textOf(col("id")).as("text"))
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft-spanflag-index").toString
        ops.Dedup.fitSpanIndex(base, "doc_id", "text", window = 15)
          .save(idxDir)
        val loaded = ops.Dedup.loadSpanIndex(spark, idxDir)
        val idx = loaded.copy(fps = loaded.fps.persist())
        idx.fps.count() // build before the clock
        val docs = spark.readStream.format("rate")
          .option("rowsPerSecond", rps)
          .option("numPartitions", 8)
          .load()
          .select(col("timestamp").as("ts"), col("value").as("doc_id"),
            textOf(pmod(col("value") * lit(1000003L), lit(2L * nBase)))
              .as("text"))
        streaming.DocumentStreams.spanFlagStream(docs, idx,
          broadcastIndex = flagBcast)
      }
      else if (mode == "score") {
        // Stateless in-flight surprisal over a STORED frequency table:
        // the production round trip (termFreqs → save → load →
        // surprisalStream) with a 50k-term vocabulary; docs are ~50
        // tokens drawn from that vocabulary plus one novel token so both
        // the map hit and the singleton-floor paths run per row.
        val vocabDocs = spark.range(50000L)
          .select(concat_ws(" ", transform(sequence(lit(0), lit(9)),
            j => concat(lit("v"), pmod(col("id") * 10 + j, lit(50000L))
              .cast("string")))).as("text"))
        val freqDir = java.nio.file.Files
          .createTempDirectory("graft-score-freqs").toString
        ops.TextOps.saveTermFreqs(
          ops.TextOps.termFreqs(vocabDocs, "text"), freqDir)
        val freqs = ops.TextOps.loadTermFreqs(spark, freqDir)
        val docs = spark.readStream.format("rate")
          .option("rowsPerSecond", rps)
          .option("numPartitions", 8)
          .load()
          .select(col("timestamp").as("ts"), col("value").as("doc_id"),
            concat_ws(" ",
              concat(lit("novel"), col("value").cast("string")),
              transform(sequence(lit(0), lit(48)),
                j => concat(lit("v"), pmod(col("value") * 49 + j,
                  lit(50000L)).cast("string")))).as("text"))
        streaming.DocumentStreams.surprisalStream(docs, freqs)
          .select(col("doc_id"), col("n_tokens"), col("surprisal"))
      }
      else if (mode == "nbscore") {
        // Stateless in-flight seed-set classification over a STORED
        // model: the production round trip (fitNbClassifier → save →
        // load → nbStream) with a 50k-term vocabulary split into
        // seed-marked (even) and crawl-marked (odd) halves; arriving
        // docs draw ~49 tokens across both halves plus one novel token,
        // so the weight-map hit AND the default-weight path run per row
        // — the score mode's shape with a per-term map lookup instead
        // of a frequency join.
        val vocabDocs = spark.range(50000L)
          .select((col("id") % 2 === 0).as("is_t"),
            concat_ws(" ", transform(sequence(lit(0), lit(9)),
              j => concat(lit("w"), pmod(col("id") * 10 + j, lit(50000L))
                .cast("string")))).as("text"))
        val nbDir = java.nio.file.Files
          .createTempDirectory("graft-nb-model").toString
        ops.Classify.saveNbModel(
          ops.Classify.fitNbClassifier(vocabDocs, "text", col("is_t")),
          nbDir)
        val model = ops.Classify.loadNbModel(spark, nbDir)
        val docs = spark.readStream.format("rate")
          .option("rowsPerSecond", rps)
          .option("numPartitions", 8)
          .load()
          .select(col("timestamp").as("ts"), col("value").as("doc_id"),
            concat_ws(" ",
              concat(lit("novel"), col("value").cast("string")),
              transform(sequence(lit(0), lit(48)),
                j => concat(lit("w"), pmod(col("value") * 49 + j,
                  lit(50000L)).cast("string")))).as("text"))
        streaming.DocumentStreams.nbStream(docs, model)
          .select(col("doc_id"), col("nb_logodds"), col("keep"))
      }
      else if (mode == "scrub") {
        // Stateless in-flight PII scrub (scrubStream): ~48-word docs
        // each planting an email, a NANP phone and an IPv4 derived from
        // the rate counter, so EVERY row runs all five audit regexes
        // plus three live rewrites — the regex-bound end of the
        // streaming surface (score mode is the hash-join-bound end).
        val docs = spark.readStream.format("rate")
          .option("rowsPerSecond", rps)
          .option("numPartitions", 8)
          .load()
          .select(col("timestamp").as("ts"), col("value").as("doc_id"),
            concat_ws(" ",
              lit((1 to 45).map(i => s"t$i").mkString(" ")),
              concat(lit("u"), col("value").cast("string"), lit("@ex.org")),
              lit("415-555-0142"),
              concat(lit("10.0."),
                pmod(col("value"), lit(256L)).cast("string"), lit(".7")))
              .as("text"))
        streaming.DocumentStreams.scrubStream(docs)
          .select(col("doc_id"), col("text"),
            col("pii.n_emails").as("n_emails"),
            col("pii.n_phones").as("n_phones"),
            col("pii.n_ipv4").as("n_ipv4"))
      }
      else if (mode == "bpscrub") {
        // Stateless in-flight boilerplate scrub over a STORED histogram:
        // 64 groups × 200 thresholded cut lines each (the template-sized
        // cut-list contract), broadcast as per-group arrays; every
        // arriving ~8-line doc carries ONE line from its group's cut
        // list plus body lines, so each row pays the row-local
        // array-probe filter (~units × 200 string compares) AND the
        // reassembly — the HOF-bound end of the streaming surface
        // (scrub mode is regex-bound, nbscore map-lookup-bound).
        val lineDf = spark.range(64L * 200L).select(
            concat(lit("g"), (col("id") % 64).cast("string")).as("group"),
            concat(lit("bp-"), col("id").cast("string")).as("unit"))
          .withColumn("uh", xxhash64(col("unit")))
          .withColumn("line_df", lit(10L))
        val idx = ops.Dedup.BoilerplateIndex(lineDf, "\n")
        val docs = spark.readStream.format("rate")
          .option("rowsPerSecond", rps)
          .option("numPartitions", 8)
          .load()
          .select(col("timestamp").as("ts"), col("value").as("doc_id"),
            concat(lit("g"), pmod(col("value"), lit(64L)).cast("string"))
              .as("grp"),
            concat_ws("\n",
              // the group-owned boilerplate line: id ≡ grp (mod 64)
              concat(lit("bp-"),
                (pmod(col("value"), lit(64L)) +
                  pmod(col("value"), lit(200L)) * 64L).cast("string")),
              lit((1 to 7).map(i => s"body line $i").mkString("\n")))
              .as("text"))
        streaming.DocumentStreams
          .boilerplateScrubStream(docs, idx, "grp", minDf = 2)
          .select(col("doc_id"), col("n_units"), col("n_kept"))
      }
      else if (mode == "sessionize")
        streaming.EventStreams
          .sessionizeEventTime(spark, events, gapMinutes = 1,
            watermark = "10 seconds")
          .toDF("user_id", "session_start_us", "n_events")
      else {
        // rate → document shape: ~50-word gate-passing texts; integer-
        // halved ids make every consecutive value pair share content, so
        // HALF the stream is exact re-crawl the dedup must absorb
        val docs = spark.readStream.format("rate")
          .option("rowsPerSecond", rps)
          .option("numPartitions", 8)
          .load()
          .select(col("timestamp").as("ts"), col("value").as("doc_id"),
            lit("en").as("lang"),
            concat_ws(" ",
              lit("the a an of and is to the of and is"),
              concat(lit("w"), expr("value div 2").cast("string")),
              lit((1 to 40).map(i => s"t$i").mkString(" "))).as("text"))
        streaming.DocumentStreams.cleanStream(docs, watermark = "10 seconds")
          .select(col("doc_id"), col("fp"), col("split"))
      }

    // Optional fixed trigger (seconds): per-micro-batch fixed costs —
    // re-planning and, in flag mode, re-scanning the static index — are
    // amortized by bigger batches. ASAP triggering (the default) is the
    // latency-optimal choice; a production ingest-dedup stream runs a
    // periodic trigger precisely because its static side has a per-batch
    // floor.
    val triggerSecs = sys.env.getOrElse("SPARK_GRAFT_STREAM_TRIGGER", "0").toInt
    val writer0 = sink.writeStream
      .option("checkpointLocation", ckpt)
    val q = (if (triggerSecs > 0)
      writer0.trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(s"$triggerSecs seconds"))
    else writer0)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // batch-id-keyed egress dir: a batch re-executed after a crash
        // overwrites ITSELF instead of appending a duplicate — the
        // exactly-once bookkeeping foreachBatch's batchId exists for.
        batch.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
      .outputMode(OutputMode.Append())
      .start()

    val t0 = System.nanoTime()
    Thread.sleep(secs * 1000L)
    q.stop()
    q.awaitTermination()
    val elapsed = (System.nanoTime() - t0) / 1e9

    // Throughput is measured at the EGRESS: sum(n_events) over the
    // sessions that landed in parquet counts only rows that fully
    // traversed ingest → state store → close → sink. (The listener's
    // input count is reported too, but its async event bus can lag a
    // stop() and undercount — the parquet files cannot.) Guarded: a run
    // too short/slow for ANY micro-batch to commit leaves no batch=*
    // dirs, and an unguarded read would crash the bench with no JSON
    // line — a zero-egress line is the diagnosable record. try/catch
    // rather than a precondition check: "no batch dir", "only
    // _temporary from a stop() mid-write", and "schema-less empty batch
    // dir" all fail the read differently, and the fallback is the same.
    // (in clean mode every egress row is one document, so the "events"
    // count is the row count itself)
    val (egressSessions, egressEvents) =
      try {
        val evAgg = if (mode == "sessionize")
          coalesce(sum("n_events"), lit(0L)) else count(lit(1)).cast("long")
        val egress = spark.read.parquet(s"$out/batch=*")
          .agg(count(lit(1)), evAgg).head()
        (egress.getLong(0), egress.getLong(1))
      } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }
    val rowsPerSec = egressEvents / elapsed
    val metric = mode match {
      case "sessionize" => "stream_sessionize_rows_per_sec"
      case "clean"      => "stream_clean_docs_per_sec"
      case "score"      => "stream_score_docs_per_sec"
      case "scrub"      => "stream_scrub_docs_per_sec"
      case "nbscore"    => "stream_nbscore_docs_per_sec"
      case "bpscrub"    => "stream_bpscrub_docs_per_sec"
      case "spanflag"   => "stream_spanflag_windows_per_sec"
      case _            => "stream_flag_pairs_per_sec"
    }
    val flagCfg = if (mode == "flag" || mode == "spanflag")
      s""","flag_base":$flagBase,"broadcast":$flagBcast,"stored":"$flagStored","trigger_secs":$triggerSecs"""
    else ""
    val line =
      f"""{"metric":"$metric","value":$rowsPerSec%.0f,"unit":"rows/sec","egress_events":$egressEvents,"egress_sessions":$egressSessions,"listener_input_rows":${inputRows.get()},"elapsed_sec":$elapsed%.1f,"configured_rps":$rps,"state_store":"$stateStore","mode":"$mode"$flagCfg,"preload":$preload%.1f,"load_band":"$loadBand","polluted":$polluted}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "stream_bench.json")
    Files.writeString(Paths.get(outPath), line + "\n")
    println(line)

    spark.stop()
    // best-effort temp cleanup
    import scala.jdk.CollectionConverters._
    try Files.walk(dir).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists(_))
    catch { case scala.util.control.NonFatal(_) => () }
  }
}
