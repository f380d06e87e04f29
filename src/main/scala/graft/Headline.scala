package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.TextOps

/** The composed HEADLINE run (round-13 verdict #8): the whole
  * training-data pipeline a curation job actually ships — quality gate →
  * near-dup dedup → decontaminate → split → temperature mix → shard →
  * pack → partitioned parquet export — timed as ONE wall-clock number
  * with the composition's shuffle census, so a round has a single
  * regression tripwire for the pipeline as a whole instead of per-query
  * rows (each stage stays individually oracle-gated: q49/q39/q61/q55
  * via q63, q83, q65, q66, q81).
  *
  * Stage contracts composed here:
  *  - [[TextOps.cleanCorpus]]: gate → dedup over the GATED corpus →
  *    contamination df-cap over the DEDUPED corpus → split (the q63
  *    inter-stage order, oracle-pinned);
  *  - q83's mix shape: ONE source-count aggregate feeds both the
  *    temperature weights and the rebalance targets;
  *  - q81's export shape: shard → pack reuses the shard exchange (the
  *    OpsSpec two-shuffle floor), and the final write repartitions on
  *    the shard key so every executor writes whole shards.
  *
  * Timing covers EVERYTHING from pipeline construction through the
  * parquet commit — including the driver-side plan collects
  * (sourceCounts, the rebalance plan table) that are genuinely part of
  * what the pipeline costs. Row accounting reads the written files
  * afterwards, outside the clock.
  *
  * Usage: `runMain graft.Headline [sfDir] [exportDir]` — defaults
  * localdata/sf1 and a temp dir. Prints one JSON line and writes it to
  * headline_out.json (SPARK_GRAFT_HEADLINE_OUT to override).
  */
object Headline {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("localdata/sf1")
    val exportDir = args.lift(1).getOrElse(
      Files.createTempDirectory("graft-headline").toString)
    val spark = GraftSession.local(appName = "graft-headline")

    val nShards = 32
    val ctxTokens = 1024

    def runOnce(): (Harness.Census, Double) = {
      // the clock starts once `documents` is resolved: its file listing
      // and schema read are not the pipeline's
      val docs = table(spark, sfDir, "documents")
      Harness.timed {
        // 1–4: gate → near-dup dedup → decontaminate (vs the src0 eval
        // set) → split, the q63 composition
        val cleaned = TextOps.cleanCorpus(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          contamMaxGramDocFreq = 10)
        // 5: temperature mix at the canonical alpha = 0.5 — counts
        // collected ONCE, feeding weights and targets both (q83)
        val counts = TextOps.sourceCounts(cleaned, "source")
        val w = TextOps.temperatureWeights(counts, alpha = 0.5)
        val mixed = TextOps.rebalanceMixture(cleaned, "source", "doc_id",
          "text", w, oversample = 4.0, sourceCounts = counts).drop("rnk")
        // 6–7: content-keyed shard layout + context-window packing (the
        // pack window rides the shard exchange — q81's two-shuffle floor
        // for this tail)
        val packed = TextOps.packSequences(
          TextOps.shuffleShard(mixed, "doc_id", "text", nShards),
          "text", "shard", "pos", ctxTokens)
        // 8: export — whole shards per task, byte-identical re-runs
        val fp = Harness.census(packed)
        packed.repartition(nShards, col("shard"))
          .sortWithinPartitions(col("shard"), col("pos"))
          .write.partitionBy("shard").mode("overwrite").parquet(exportDir)
        fp
      }
    }

    // one warm-load pass (JVM/codegen warmup — the Bench discipline),
    // then N timed attempts, archiving the MINIMUM wall with each
    // attempt's pre-run load (r19 verdict #6: a single timed pass
    // swung 2× intra-day two rounds running on container noise alone,
    // so the tripwire could no longer see a real 2× stage regression;
    // min-of-attempts is the same discipline Bench already applies)
    val attempts = sys.env.getOrElse("SPARK_GRAFT_HEADLINE_ATTEMPTS", "3")
      .toInt.max(1)
    val _ = runOnce()
    clearCaches(spark)
    val runs = (1 to attempts).map { i =>
      val load = Harness.sampleLoad()
      val (f, w) = runOnce()
      clearCaches(spark)
      System.gc(); Thread.sleep(300)
      println(f"[headline] attempt $i/$attempts wall=$w%.2fs " +
        f"preload=${load.preload}%.1f (${load.band})")
      (w, f, load)
    }
    val (wall, fp, load) = runs.minBy(_._1)

    // row accounting AFTER the clock, from the committed files
    val exported = spark.read.parquet(exportDir)
    val rowsExported = exported.count()
    val nSeqs = exported.groupBy(col("shard"))
      .agg(max(col("seq_last")).as("m"))
      .agg(sum(col("m") + 1L)).head().getLong(0)
    val rowsIn = table(spark, sfDir, "documents").count()

    val wallsJson = runs.map(r => f"${r._1}%.2f").mkString("[", ",", "]")
    val preloadsJson = runs.map(r => f"${r._3.preload}%.1f").mkString("[", ",", "]")
    val line =
      f"""{"metric":"headline_pipeline","wall_sec":$wall%.2f,"attempts":$attempts,"walls":$wallsJson,"preloads":$preloadsJson,"sf_dir":${Verify.jsonStr(sfDir)},"rows_in":$rowsIn,"rows_exported":$rowsExported,"n_seqs":$nSeqs,"n_shards":$nShards,"ctx_tokens":$ctxTokens,"census":${fp.json},"load_band":"${load.band}","preload":${load.preload}%.2f}"""
    Harness.emit(sys.env.getOrElse("SPARK_GRAFT_HEADLINE_OUT", "headline_out.json"), line)
    clearCaches(spark)
    spark.stop()
  }
}
