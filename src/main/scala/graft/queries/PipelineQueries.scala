package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{dec, table}
import graft.ops.{Classify, Dedup, Retrieval, Similarity, Sketch, TextOps, WebOps}

/** Training-data-pipeline correctness queries over the `documents`,
  * `embeddings` and `events` fixtures: deduplication (exact, MinHash-LSH,
  * SimHash), similarity search (exact + LSH ANN), text analysis
  * (stats/quality, language ID, fingerprints). Every oracle-gated query's
  * semantics are re-expressed in pure DuckDB SQL (list lambdas for
  * shingling, list_cosine_similarity for ANN); the approximate-ANN
  * variants (q29 LSH, q51 IVF) self-gate — they compare their output
  * against an in-query exact top-k and emit a recall boolean the oracle
  * asserts, since an approximate index is recall-bounded, not equal,
  * by construction.
  */
object PipelineQueries {

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    table(s, dir, name)

  /** Exact keyed dedup on events: one survivor + group size per
    * (user, event_type). */
  def q21(s: SparkSession, dir: String): DataFrame =
    Dedup.exactByKey(t(s, dir)("events"), Seq("user_id", "event_type"),
      "event_id")

  /** Exact content-dedup stats over the documents corpus. */
  def q22(s: SparkSession, dir: String): DataFrame =
    Dedup.exactTextStats(t(s, dir)("documents"))

  /** Near-dup pairs: MinHash signatures → LSH band buckets → exact
    * 3-gram-shingle Jaccard ≥ 0.5 (the corpus has 25 planted pairs at
    * ~0.97 similarity and nothing between 0.11 and 0.9 — LSH recall at
    * this margin is 1-1e-8, so the output equals the all-pairs oracle).
    */
  def q23(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupMinhash(t(s, dir)("documents"), "doc_id", "text",
      threshold = 0.5)

  /** SimHash near-dup: pairs within Hamming radius 3 (the Manku
    * production standard) of the portable 56-bit SimHash — the criterion
    * IS the Hamming distance, and the auto-picked 4×14-bit pigeonhole
    * generator is complete for that radius, so the output is exact (the
    * oracle recomputes the same fingerprints all-pairs in DuckDB).
    * Radius 7 with 8×7-bit slices measured 80× slower at 10× the docs in
    * the r7 sf1 probe — see [[graft.ops.Dedup.nearDupSimhash]].
    */
  def q24(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupSimhash(t(s, dir)("documents"), "doc_id", "text")

  /** Per-source corpus statistics + mean quality score — the profiling
    * pass a data pipeline runs before filtering.
    */
  def q25(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("sum_tokens"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        min(TextOps.tokenCount(col("text"))).as("min_tokens"),
        max(TextOps.tokenCount(col("text"))).as("max_tokens"),
        round(avg(TextOps.qualityScore(col("text"))), 4).as("avg_quality"))

  /** Language-ID confusion counts: labeled lang vs the heuristic guess. */
  def q26(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .groupBy(col("lang"), TextOps.langGuess(col("text")).as("pred"))
      .agg(count(lit(1)).as("n"))

  /** Portable polynomial fingerprint per document. */
  def q27(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))

  /** Exact cosine top-5 for a 10-vector query set: broadcast queries ×
    * one corpus scan (never corpus × corpus).
    */
  def q28(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .withColumn("sim", round(col("sim"), 4))
  }

  /** Matryoshka truncation search ([[Similarity.truncatedTopK]]): exact
    * top-5 over the LEADING-16-dim slice of the 64-dim embeddings (the
    * MRL 4× compression point), each hit annotated with whether the
    * full-dim exact top-5 also contains it — the truncation-quality
    * measurement itself, computed exactly on both sides (no recall
    * tolerance needed: BOTH rankings are deterministic exact scans, so
    * every row including the overlap boolean is oracle-replayable).
    */
  def q129(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val full = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("qid"), col("nid"), lit(true).as("__in_full"))
    Similarity.truncatedTopK(emb, q, k = 5, d = 16)
      .withColumn("sim", round(col("sim"), 4))
      .join(full, Seq("qid", "nid"), "left")
      .select(col("qid"), col("rank"), col("nid"), col("sim"),
        coalesce(col("__in_full"), lit(false)).as("in_full_topk"))
  }

  /** Approximate ANN via SRP-LSH multiprobe, SELF-GATED (round-2 verdict
    * #6): an approximate index can't equal an exact oracle row-for-row, so
    * the query joins its own output against the in-query exact top-k and
    * emits recall as a within-floor boolean the oracle asserts — the same
    * honest pattern as q37/q45, turning the former rows-only check green.
    *
    * Floor 0.15: these fixture vectors are near-random (no cluster
    * structure), where sign-LSH probing (bits+1)/2^bits ≈ 11% of the
    * corpus measures recall@5 = 0.20–0.30 across the sf fixtures —
    * 2–3× the 0.109 random-probe baseline, deterministic (seeded planes,
    * tie-broken top-k). OpsSpec separately pins recall ≥ 0.8 on CLUSTERED
    * vectors, the regime real embedding corpora live in.
    */
  def q29(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val qs = emb.filter(col("vec_id") < 10)
    annRecallGate(
      Similarity.lshTopK(emb, qs, k = 5, bits = 6),
      Similarity.bruteForceTopK(emb, qs, k = 5), floor = 0.15)
  }

  /** Recall gate shared by the approximate-ANN queries: compares the
    * approximate top-k against the exact top-k over the same (small,
    * broadcast) query set — |approx ∩ exact| / |exact| — and emits a
    * boolean at `floor`. The exact side is one extra broadcast corpus
    * scan, the price of gating an index honestly inside the query.
    */
  private def annRecallGate(approx: DataFrame, exact: DataFrame,
                            floor: Double): DataFrame = {
    val a = approx.select(col("qid"), col("nid"))
    val e = exact.select(col("qid"), col("nid"))
    val nHits = a.join(e, Seq("qid", "nid"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val nExact = e.agg(count(lit(1)).as("n_exact"))
    val nRes = a.agg(count(lit(1)).as("n_results"))
    nRes.crossJoin(nHits).crossJoin(nExact)
      .select(col("n_results"),
        (col("n_hits").cast("double") / col("n_exact") >= floor)
          .as("recall_ok"))
  }

  /** IVF ANN — the inverted-file scale path (k-means coarse quantizer,
    * nprobe cells scored per query) — self-gated like q29. On this
    * fixture's near-random vectors recall@5 measures 0.60–0.68 at
    * nprobe=4/nlist=16 (probing 1/4 of the corpus; the expected IVF
    * behavior when the data has no cluster structure); floor 0.4 leaves
    * margin for the float-summation wobble in the k-means centroid
    * averages. OpsSpec pins recall ≥ 0.9 on clustered vectors.
    */
  def q51(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val qs = emb.filter(col("vec_id") < 10)
    annRecallGate(
      Similarity.ivfTopK(emb, qs, k = 5, nlist = 16, nprobe = 4),
      Similarity.bruteForceTopK(emb, qs, k = 5), floor = 0.4)
  }

  /** Embedding near-dup pairs at cosine ≥ 0.9 via banded SRP-LSH + exact
    * verify. (This corpus's max off-diagonal cosine is ~0.51, so both
    * engines return the empty set — the check proves no false positives;
    * SimilaritySpec proves recall on planted duplicates.)
    */
  def q30(s: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(t(s, dir)("embeddings"), threshold = 0.9)

  /** Token counting both ways the brief asks for: whitespace tokens and a
    * BPE-ish regex pre-tokenization (letter runs / digit runs / single
    * punctuation — the GPT-2 pre-tokenizer shape, ASCII-safe so Java
    * regex and RE2 agree). The ratio of the two is a quality signal.
    */
  def q38(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("ws_tokens"),
        size(expr(
          "regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
          .as("bpe_tokens"))

  /** The verified near-dup pair set, derived ONCE per session and reused
    * by both downstream consumers (q39 survivors, q46 clusters) — round-2
    * verdict #9: each previously re-ran the full 6-stage LSH pipeline.
    * This mirrors production shape: a corpus is shingled/hashed/verified
    * once and every dedup decision reads the one pair set. q23 itself
    * stays a fresh computation (it IS the pipeline and is benchmarked as
    * such).
    *
    * Lifecycle (round-5 verdict #4): the materialized copy is an
    * explicitly persisted RDD — same lineage truncation as
    * `localCheckpoint` (downstream plans read a LogicalRDD, not the LSH
    * pipeline), but RELEASABLE: a dir change on the same session
    * unpersists the stale blocks instead of leaking them for the life of
    * the session, and [[graft.clearCaches]] frees them deterministically
    * (Bench/Verify teardown).
    */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(s, "verified-pairs", dir,
      (p: (DataFrame, org.apache.spark.rdd.RDD[_])) =>
        p._2.unpersist(blocking = false): Unit) {
      val fresh = q23(s, dir)
      val rdd = fresh.rdd.setName(s"graft-verified-pairs:$dir")
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count() // materialize eagerly, like localCheckpoint(eager=true)
      (s.createDataFrame(rdd, fresh.schema), rdd)
    }._1

  /** Session-cached STORED IVF index over the hybrid corpus embedding
    * side: the first use runs the full production lifecycle —
    * [[Similarity.fitIvf]] (auto-sized nlist) → [[Similarity.IvfIndex.save]]
    * → [[Similarity.loadIvf]] — into a temp directory; every later use
    * (including every timed bench pass of q80) reads the STORED index
    * and pays only the probe. This is exactly the 100 TB cost model: the
    * index is fitted once per corpus version and probed by every query
    * batch, so benching fit+probe per call (what the one-shot
    * [[Similarity.ivfTopK]] inside q77's gate does) overstates the
    * production cost (r10 verdict #3/#4).
    */
  private def storedIvf(s: SparkSession, dir: String): Similarity.IvfIndex =
    graft.SessionMemo(s, "ivf-stored", dir) {
      val (_, _, cEmb) = hybridParts(s, dir)
      val path = graft.SessionMemo.tempDir("graft-ivf-stored-")
      Similarity.fitIvf(cEmb).save(path)
      Similarity.loadIvf(s, path)
    }

  /** End-to-end dedup: the corpus MINUS near-duplicates. Survivor rule is
    * deterministic and local: a doc is dropped iff it is the LARGER id of
    * some verified near-dup pair (keep-first greedy — the standard
    * production choice; transitive chains keep their smallest member
    * chain-wise). One anti-join over the shared verified pair set.
    */
  def q39(s: SparkSession, dir: String): DataFrame =
    Dedup.survivors(t(s, dir)("documents"), "doc_id", verifiedPairs(s, dir))
      .select(col("doc_id"), col("lang"), col("source"))

  /** Cross-source similarity via MinHash-union sketches (the
    * [[graft.ops.Sketch.MinhashUnion]] UDAF): per-source k=256 sketches,
    * pairwise sketch-Jaccard, gated against the EXACT source-level
    * shingle-set Jaccard with a tolerance boolean the oracle asserts —
    * the honest way to gate an estimator. The tolerance is z-SCALED:
    * max(0.05, 4.5·σ) with σ = sqrt(J(1−J)/k), because σ depends on J —
    * at sf0.1 the mean pair Jaccard is 0.24 (σ ≈ 0.027), where a fixed
    * ±0.08 is only ~3σ and the EXPECTED max |z| over 190 pairs is ~3:
    * a measured std(z) of 0.97 (textbook-unbiased estimator) still
    * brushed the old fixed bound as an order statistic, not a defect.
    * 4.5σ two-sided over 190 pairs has false-trip probability ~1e-3
    * while a real per-pair bias of 2σ trips scores of pairs at once.
    * The sketch path shuffles only
    * O(sources × k) longs; the exact path (fine at sf scale, also the
    * oracle) shuffles the exploded shingle corpus exactly once.
    */
  def q45(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val docs = t(s, dir)("documents")
    // the production sketch-only operator; q45 adds the exact-side GATE
    val est = graft.ops.Sketch.crossSourceSimilarity(docs, "source", "text", k)
    // Exact Jaccard between per-source shingle SETS, computed from ONE
    // corpus-wide shuffle: group by shingle collecting the (sorted,
    // config-scale) set of sources that contain it. |A| = shingles whose
    // set contains A; |A∩B| = shingles whose set contains both; |A∪B| =
    // |A|+|B|-|A∩B|. The per-shingle aggregation state is bounded by the
    // source count, and both downstream counts re-read the SAME shuffle
    // (identical subplan → ReusedExchange), so the corpus is exploded and
    // shuffled exactly once. The self-join formulation this replaces
    // (explode → distinct → equi-join on the shingle) re-shuffled the
    // corpus-sized shingle table on a different key per stage — the sf1
    // probe clocked it at 17 s warm, all Exchange.
    val bySh = docs
      .select(col("source"), explode(TextOps.shingles(col("text"), 3)).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    val sizes = bySh
      .select(explode(col("srcs")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    // srcs is sorted, so pairing each element with its successors yields
    // exactly the src_a < src_b pairs; shingles private to one source
    // contribute nothing and are filtered before the (tiny) pair shuffle.
    val inter = bySh
      .filter(size(col("srcs")) > 1)
      .select(explode(expr(
        """flatten(transform(srcs, (a, i) ->
          |  transform(slice(srcs, i + 2, size(srcs)),
          |            b -> struct(a AS src_a, b AS src_b))))""".stripMargin))
        .as("p"))
      .select(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_inter"))
    // all source pairs (config-sized cross of the per-source counts), so
    // zero-intersection pairs still appear with exact_j = 0
    val pairs = sizes.select(col("source").as("src_a"), col("n").as("n_a"))
      .crossJoin(sizes.select(col("source").as("src_b"), col("n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .withColumn("ni", coalesce(col("n_inter"), lit(0L)))
      .withColumn("ej",
        col("ni").cast("double") / (col("n_a") + col("n_b") - col("ni")))
    pairs
      .join(broadcast(est), Seq("src_a", "src_b"))
      .withColumn("sigma", sqrt(col("ej") * (lit(1.0) - col("ej")) / k))
      .select(col("src_a"), col("src_b"),
        round(col("ej"), 4).as("exact_j"),
        (abs(col("est_j") - col("ej")) <=
          greatest(lit(0.05), lit(4.5) * col("sigma"))).as("within_tol"))
  }

  /** Transitive dup clusters over the verified near-dup pairs (iterative
    * min-label connected components; DuckDB oracle uses a recursive CTE).
    * Reads the shared pair set — see [[verifiedPairs]].
    */
  def q46(s: SparkSession, dir: String): DataFrame =
    Dedup.dupClusters(verifiedPairs(s, dir).select(col("a_id"), col("b_id")))

  /** TF-IDF top-3 terms per source: term frequency within the source ×
    * ln(|sources| / doc-frequency across sources), deterministic
    * tie-breaks. Two shuffles: (source, term) counts and per-term source
    * counts; the window ranks within source.
    */
  def q47(s: SparkSession, dir: String): DataFrame = {
    val terms = t(s, dir)("documents")
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("term"))
    val tf = terms.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df_ = terms.select(col("term"), col("source")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // 1-row source count cross-joined in (like the oracle's ns CTE) —
    // an eager .first() here would run a full explode job at
    // plan-construction time
    val ns = t(s, dir)("documents")
      .select(countDistinct(col("source")).cast("double").as("n_sources"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df_, "term").crossJoin(ns)
      .withColumn("score",
        round(col("tf") * log(col("n_sources") / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("source"), col("rnk"), col("term"), col("score"))
  }

  /** Funnel analysis: per user, did a purchase follow the FIRST signup?
    * Conversion counts + median-free latency stats on exact micros.
    * One shuffle on user_id; min/conditional-min aggregates only.
    */
  def q48(s: SparkSession, dir: String): DataFrame =
    graft.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts_us")))
          .as("first_signup_us"),
        // LAST purchase, not first: "did any purchase follow the first
        // signup" must not be fooled by a purchase that PRECEDED signup
        max(when(col("event_type") === "purchase", col("ts_us")))
          .as("last_purchase_us"))
      .select(col("user_id"),
        col("first_signup_us").isNotNull.as("signed_up"),
        // coalesce: three-valued logic would emit NULL for users missing
        // either event, which pandas canonicalizes differently per engine
        coalesce(col("last_purchase_us") > col("first_signup_us"),
          lit(false)).as("converted_after_signup"))

  /** The corpus-cleaning gate a training pipeline runs: keep/drop with
    * reasons (too short / wrong language / low quality), one row per
    * reason bucket. Pure column arithmetic — replicated exactly by the
    * oracle.
    */
  def q49(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(
        when(TextOps.tokenCount(col("text")) < 15, "too_short")
          .when(TextOps.langGuess(col("text")) =!= col("lang"), "lang_mismatch")
          .when(TextOps.qualityScore(col("text")) < 0.6, "low_quality")
          .otherwise("kept").as("verdict"))
      .groupBy(col("verdict")).agg(count(lit(1)).as("n_docs"))

  /** Vector preprocessing: L2-normalize then int8-quantize embeddings —
    * the storage-side prep before ANN indexing. Emits per-vector check
    * values (norm to 4dp, first quantized lane, quantized-lane sum) so
    * the oracle verifies the arithmetic end-to-end without comparing
    * float arrays.
    */
  def q50(s: SparkSession, dir: String): DataFrame = {
    // Materialize the norm and the quantized array ONCE per row in their
    // own projections. Inlining the `norm` aggregate subtree into the
    // quantize lambda (round-2's version) re-evaluated the O(dim) norm per
    // array lane — O(dim²) interpreted work per row, measured at 7.6 s for
    // 2,000 rows. CollapseProject will not merge these projections back
    // together: each alias is non-cheap and referenced more than once.
    t(s, dir)("embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(aggregate(transform(col("v"), x => x * x),
        lit(0.0), (acc, x) => acc + x)))
      .withColumn("quant", transform(col("v"),
        x => round(x / col("nrm") * 127).cast("int")))
      .select(col("vec_id"), round(col("nrm"), 4).as("l2_norm"),
        element_at(col("quant"), 1).as("q0"),
        aggregate(col("quant"), lit(0L), (acc, x) => acc + x).as("q_sum"))
  }

  /** Deterministic content-keyed train/val/test split ([[TextOps
    * .splitAssign]]) — per-doc assignment so the oracle pins every row,
    * not just the marginals. Scale shape: pure per-row expressions, zero
    * shuffles before the (tiny) split/lang rollup.
    */
  def q55(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(col("doc_id"),
        TextOps.splitAssign(col("text"), 80, 10).as("split"))

  /** Benchmark-contamination report ([[TextOps.contamination]]): corpus
    * docs (source ≠ src0) sharing ≥ 2 rare distinct word 3-grams with
    * any "eval-set" doc (source = src0), where "rare" = corpus doc
    * frequency ≤ 10 (the boilerplate guard the r7 sf1 probe proved
    * necessary — without it a small-vocabulary corpus makes the gram
    * join quadratic). Exact — the oracle recomputes the intersections
    * AND the frequency cap all-pairs in DuckDB. 3-grams here because
    * the synthetic docs are ~50 words; production scans use 8–13-grams
    * via the `n` parameter.
    */
  def q57(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    TextOps.contamination(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text", "doc_id", "text", n = 3, minOverlap = 2,
      maxGramDocFreq = 10)
      .select(col("doc_id"), col("probe_id"),
        col("n_shared").cast("long").as("n_shared"))
  }

  /** Per-source repetition profile ([[TextOps.repetitionStats]], the
    * Gopher/Rae-style quality filters): average repeated-word and
    * top-bigram fractions plus the count of repetitive outliers
    * (top-bigram fraction > 0.08 ≈ the corpus p90). Averages use the
    * round-inside-round pattern that keeps cross-engine double
    * aggregation hash-stable (see q25).
    */
  def q58(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    TextOps.repetitionStats(docs, "doc_id", "text", carry = Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(round(col("dup_word_frac"), 4)), 4).as("avg_dup_word"),
        round(avg(round(col("top2gram_frac"), 4)), 4).as("avg_top2gram"),
        sum(when(col("top2gram_frac") > 0.08, 1L).otherwise(0L))
          .as("n_repetitive"))
  }

  /** Deterministic domain mixture ([[TextOps.mixtureSample]]): keep 25%
    * of src0, 50% of src1, 75% of src2, everything else whole — the
    * content-keyed weighting pass that shapes a training mix. The
    * oracle recomputes the same portable fingerprint threshold, so the
    * exact per-source kept-counts must agree, not just the marginals.
    */
  def q59(s: SparkSession, dir: String): DataFrame =
    TextOps.mixtureSample(t(s, dir)("documents"), "text", "source",
      Map("src0" -> 25, "src1" -> 50, "src2" -> 75))
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))

  /** Sliding-window chunking ([[TextOps.chunk]]): every document split
    * into ≤30-word chunks with 5 words of overlap — the training-prep
    * pass before tokenization. The oracle recomputes every chunk STRING
    * in DuckDB (list slicing), so boundaries, overlap carry, and tail
    * handling are pinned exactly, not just counts.
    */
  def q60(s: SparkSession, dir: String): DataFrame =
    TextOps.chunk(t(s, dir)("documents"), "doc_id", "text",
      window = 30, overlap = 5)

  /** Decontamination EGRESS, end-to-end ([[TextOps.decontaminate]]):
    * the corpus that ships after the q57 contamination report's flagged
    * docs are anti-joined away. q57 gates the report; this gates the
    * pass a pipeline actually materializes — every surviving (doc_id,
    * source) is pinned, so the anti-join (and therefore the whole
    * report→scrub composition) is exact, not just the flag list.
    * Same parameters as q57 so the two gates describe one operation.
    */
  def q61(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    TextOps.decontaminate(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      "doc_id", "text", "doc_id", "text", n = 3, minOverlap = 2,
      maxGramDocFreq = 10)
      .select(col("doc_id"), col("source"))
  }

  /** Sub-document exact dedup ([[Dedup.lineDedup]]): every unit kept only
    * at its first corpus-wide occurrence, documents reassembled. Gated at
    * WORD granularity (`sep = " "`) because the synthetic corpus is
    * single-line — same code path as the production paragraph/line grain
    * (the separator is the only parameter), and non-vacuous here: the
    * corpus vocabulary repeats constantly, so almost every doc shrinks.
    * The oracle recomputes every reassembled string in DuckDB, pinning
    * first-occurrence choice, within-doc repeats, and unit order.
    * Paragraph/newline grains are spec-pinned on multi-line docs
    * (OpsSpec).
    */
  def q62(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(t(s, dir)("documents"), "doc_id", "text", sep = " ")

  /** The WHOLE cleaning pipeline in one call ([[TextOps.cleanCorpus]]):
    * quality gate → near-dup survivors → decontaminate vs the src0 eval
    * set → split assignment, same parameters as the stages' own gates
    * (q49/q39/q61/q55). The oracle recomputes the full composition in
    * DuckDB, so the inter-stage contracts (dedup runs on the GATED
    * corpus; the contamination df cap counts over the DEDUPED corpus)
    * are pinned, not just each stage in isolation.
    */
  def q63(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    TextOps.cleanCorpus(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      contamMaxGramDocFreq = 10)
      .select(col("doc_id"), col("source"), col("split"))
  }

  /** Incremental cross-corpus dedup ([[Dedup.crossNearDup]]): the
    * src10–src19 half of the corpus arrives as a NEW batch and is checked
    * against the src0–src9 half as the existing base — the
    * continuous-ingestion pass that never re-pairs the base with itself.
    * The fixture's planted near-dup pairs mostly straddle sources, so the
    * cross split is non-vacuous (12 pairs at sf0.01); the oracle
    * recomputes exact shingle Jaccard over all cross pairs in DuckDB, so
    * both the pair list and the similarity values are pinned. Within-half
    * duplicate pairs must NOT appear — the oracle enforces the cross-only
    * contract too.
    */
  def q64(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    Dedup.crossNearDup(
      docs.filter(length(col("source")) > 4),
      docs.filter(length(col("source")) <= 4),
      "doc_id", "text", threshold = 0.5)
  }

  /** Deterministic shuffle-shard export ([[TextOps.shuffleShard]]):
    * every document assigned to one of 8 shards with a dense position in
    * a content-keyed pseudo-random order. The oracle recomputes the
    * salted fingerprint, the mod-8 shard, and the rank in DuckDB, so the
    * full (doc_id, shard, pos) layout — the exact bytes-on-disk order of
    * a training export — is pinned, not just shard counts.
    */
  def q65(s: SparkSession, dir: String): DataFrame =
    TextOps.shuffleShard(t(s, dir)("documents"), "doc_id", "text",
      nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"))

  /** Sequence packing over the sharded corpus ([[TextOps.packSequences]]
    * composed on [[TextOps.shuffleShard]]): every document's token span
    * laid end-to-end per shard and cut into 256-token context windows.
    * The oracle recomputes shard, rank, running offset, and the integer
    * sequence bounds in DuckDB, so the exact byte layout of a packed
    * training export — including which documents straddle a context
    * boundary — is pinned. The composition shares the shard key, so the
    * two passes plan as ONE shuffle (OpsSpec exchange-count test).
    */
  def q66(s: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(
      TextOps.shuffleShard(t(s, dir)("documents"), "doc_id", "text",
        nShards = 8),
      "text", "shard", "pos", ctxTokens = 256)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("tok_offset"), col("seq_first"), col("seq_last"))

  /** Split leakage audit ([[Dedup.splitLeakageAudit]]): every near-dup
    * pair straddling the content-keyed train/eval boundary. Exact dups
    * CANNOT cross (same fingerprint, same bucket — q55/OpsSpec pin
    * that); near-dups hash independently and CAN — the fixture's planted
    * pairs land 6 of them across the boundary at sf0.01, and the oracle
    * recomputes fingerprint-split + all-pairs Jaccard, pinning both the
    * leak list and the similarities.
    */
  def q67(s: SparkSession, dir: String): DataFrame =
    Dedup.splitLeakageAudit(t(s, dir)("documents"), "doc_id", "text",
      threshold = 0.5)

  /** Per-source adaptive quality gate ([[TextOps.qualityTopFrac]], exact
    * rank path): top 75% of every source by quality score. The oracle
    * recomputes score, per-source rank (quality desc, doc_id tie-break)
    * and the ceil(0.75·n) cut in DuckDB, so the kept set is pinned
    * exactly — including tie handling at the cut line.
    */
  def q68(s: SparkSession, dir: String): DataFrame =
    TextOps.qualityTopFrac(t(s, dir)("documents"), "doc_id", "text",
      "source", keepPct = 75)
      .select(col("doc_id"), col("source"))

  /** BM25 retrieval ([[Retrieval.bm25TopK]]): the 5 lowest-id `src0`
    * docs act as the query set (first 8 words each — an "eval prompt"
    * shape), ranked against the Rest-of-corpus (src0 excluded, so
    * queries can't retrieve themselves). Top-3 per query, (bm25 desc,
    * doc_id) order. The oracle recomputes tf, df, N, avgdl and the
    * full Robertson/Lucene score in DuckDB under the same
    * round-inside-round contract, pinning every rank and score.
    */
  def q69(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val queries = docs.filter(col("source") === "src0")
      .orderBy(col("doc_id")).limit(5)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 8)).as("qtext"))
    Retrieval.bm25TopK(docs.filter(col("source") =!= "src0"), queries)
  }

  /** Exact-n stratified sample ([[TextOps.stratifiedSample]]): the 10
    * smallest salted-fingerprint docs per source. The operator runs the
    * two-phase count → threshold-prune → rank-survivors plan; the oracle
    * is the NAIVE global rank — passing proves the prune is invisible
    * to the result, which is the operator's whole contract.
    */
  def q70(s: SparkSession, dir: String): DataFrame =
    TextOps.stratifiedSample(t(s, dir)("documents"), "source", "doc_id",
      "text", n = 10)
      .select(col("source"), col("rnk"), col("doc_id"))

  /** Vocabulary + OOV report ([[TextOps.vocabOovRate]]): top-20 corpus
    * terms by (frequency desc, term) form the vocabulary (the fixture
    * corpus has 31 distinct terms, so the cut is real and its tie-break
    * exercised); per-doc token/OOV counts + 4dp OOV fraction. The oracle
    * rebuilds the vocabulary and every count in DuckDB.
    */
  def q71(s: SparkSession, dir: String): DataFrame =
    TextOps.vocabOovRate(t(s, dir)("documents"), "doc_id", "text",
      vocabSize = 20)

  /** The shared hybrid-retrieval harness behind q72/q77: q69's query set
    * (5 src0 docs, first-8-token queries), the non-src0 corpus, its BM25
    * lexical top-10, and the query/corpus embedding sides (vec_id aligns
    * with doc_id in the fixtures). Only the EMBEDDING RANKING differs
    * between the exact baseline and the ANN-backed variant, so everything
    * else is derived once here.
    */
  private def hybridParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = t(s, dir)("documents")
    val emb = t(s, dir)("embeddings")
    val queries = docs.filter(col("source") === "src0")
      .orderBy(col("doc_id")).limit(5)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 8)).as("qtext"))
    val corpus = docs.filter(col("source") =!= "src0")
    val bm = Retrieval.bm25TopK(corpus, queries, topK = 10)
      .select(col("query_id"), col("rnk"), col("doc_id"))
    val qv = emb.join(broadcast(queries.select(col("query_id"))),
      col("vec_id") === col("query_id"))
      .select(col("vec_id"), col("embedding"))
    val cEmb = emb.join(corpus.select(col("doc_id")),
      col("vec_id") === col("doc_id"), "left_semi")
    (bm, qv, cEmb)
  }

  /** Hybrid retrieval, EXACT baseline: [[Retrieval.rrfFuse]] of the BM25
    * lexical top-10 and the exact-cosine embedding top-10, RRF k=60,
    * top-3 per query. Both input rankings AND the fusion are recomputed
    * end-to-end in DuckDB. The exact embedding side scans the full corpus
    * per query — this is deliberately the BASELINE (and the recall oracle
    * q77's spec gates against); the scale path is q77's IVF-backed
    * variant, which probes nprobe/nlist of the corpus instead.
    */
  def q72(s: SparkSession, dir: String): DataFrame = {
    val (bm, qv, cEmb) = hybridParts(s, dir)
    val cos = Similarity.bruteForceTopK(cEmb, qv, k = 10)
      .select(col("qid").as("query_id"), col("rank").as("rnk"),
        col("nid").as("doc_id"))
    Retrieval.rrfFuse(Seq(bm, cos), topK = 3)
  }

  /** Hybrid retrieval, ANN-backed (the 100 TB shape — round-9 verdict
    * #1): the embedding side is [[Similarity.ivfTopK]] (nprobe/nlist of
    * the corpus scored per query) instead of q72's exact scan, fused with
    * the SAME BM25 ranking by the same RRF. Self-gated like q29/q51: the
    * output compares the ANN fusion against the exact fusion — recall of
    * (query, doc) pairs — and emits the boolean, so a silently degraded
    * index hash-fails the gate. Floor 0.4 mirrors q51: these fixture
    * vectors are near-random (no cluster structure for the quantizer to
    * exploit; measured fusion recall 0.8 at sf0.01 — the shared exact
    * BM25 side anchors the fusion), while OpsSpec pins ≥ 0.9 on clustered
    * vectors,
    * where ANN is actually the right tool.
    */
  def q77(s: SparkSession, dir: String): DataFrame = {
    val (bm0, qv, cEmb) = hybridParts(s, dir)
    // the BM25 ranking feeds BOTH fusions — materialize the 50-row
    // result once so the tokenize→postings→score pipeline executes one
    // time, not once per fusion (the r16 loop-invariant discipline;
    // r20 profile: the two bm evaluations were q77's two heaviest
    // stages). queries×topK rows — checkpoint cost is nil.
    val bm = bm0.localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(cEmb, qv, k = 10)
      .select(col("qid").as("query_id"), col("rank").as("rnk"),
        col("nid").as("doc_id"))
    // probe a session-cached fit instead of ivfTopK's per-call refit
    // (r10 verdict #4): the fit is deterministic (seeded hash-least
    // sample, driver Lloyd), so the cached index produces IDENTICAL
    // rankings — the gate semantics are unchanged and the gate row
    // stops paying a redundant quantizer fit on every materialization
    val ann = Similarity.probeIvf(fitted16(s, dir, cEmb), qv,
        k = 10, nprobe = 4)
      .select(col("qid").as("query_id"), col("rank").as("rnk"),
        col("nid").as("doc_id"))
    fusionRecallGate(
      Retrieval.rrfFuse(Seq(bm, ann), topK = 3),
      Retrieval.rrfFuse(Seq(bm, exact), topK = 3), floor = 0.4)
  }

  /** q77's fitted 16-cell quantizer, cached per (session, dir) — the
    * in-memory sibling of [[storedIvf]] (which carries the auto-sized
    * STORED index for q80's production path; q77 keeps its pinned
    * nlist=16/nprobe=4 gate configuration).
    */
  private def fitted16(s: SparkSession, dir: String,
                       cEmb: DataFrame): Similarity.IvfIndex =
    graft.SessionMemo(s, "fit16", dir)(Similarity.fitIvf(cEmb, nlist = 16))

  /** q77's gate: recall of the exact fusion's (query, doc) pairs in the
    * ANN-backed fusion — [[annRecallGate]] keyed on the fusion output
    * columns. Both fusions are queries×topK-bounded, so the gate costs
    * nothing at any corpus size.
    */
  private def fusionRecallGate(ann: DataFrame, exact: DataFrame,
                               floor: Double): DataFrame =
    annRecallGate(
      ann.select(col("query_id").as("qid"), col("doc_id").as("nid")),
      exact.select(col("query_id").as("qid"), col("doc_id").as("nid")),
      floor)

  /** Hybrid retrieval over the STORED index — the production path whose
    * cost q77's gate row deliberately does not isolate (r10 verdict #3):
    * [[Similarity.probeIvf]] against the session's [[storedIvf]]
    * (fitted+saved+reloaded once, auto-sized nlist) fused with BM25 by
    * the same RRF. No exact-scan anchor anywhere in the plan, so the
    * bench row for THIS query is the honest per-batch cost of hybrid
    * retrieval at scale: BM25 + nprobe/nlist of the corpus + a
    * top-N-bounded fusion. Correctness here is a STRUCTURAL gate (every
    * query returns exactly topK distinct in-corpus docs — hash-green
    * against the fixed-shape oracle); the recall quality of the same
    * probe machinery is q77's job, where the exact anchor belongs.
    */
  def q80(s: SparkSession, dir: String): DataFrame = {
    val (bm, qv, cEmb) = hybridParts(s, dir)
    val ann = Similarity.probeIvf(storedIvf(s, dir), qv, k = 10, nprobe = 4)
      .select(col("qid").as("query_id"), col("rank").as("rnk"),
        col("nid").as("doc_id"))
    val fused = Retrieval.rrfFuse(Seq(bm, ann), topK = 3)
    val nq = qv.agg(count(lit(1)).as("__nq"))
    val per = fused
      .join(cEmb.select(col("vec_id").as("doc_id"), lit(true).as("__in")),
        Seq("doc_id"), "left")
      .groupBy(col("query_id")).agg(
        count(lit(1)).as("__n"),
        countDistinct(col("doc_id")).as("__nd"),
        min(coalesce(col("__in"), lit(false)).cast("int")).as("__all_in"))
    per.crossJoin(broadcast(nq)).agg(
      sum(col("__n")).cast("long").as("n_results"),
      (min((col("__n") === 3 && col("__nd") === 3 && col("__all_in") === 1)
        .cast("int")) === 1 &&
        count(lit(1)) === max(col("__nq"))).as("shape_ok"))
  }

  /** One-call curation export ([[TextOps.curateExport]]):
    * rebalance to the q76 target mixture → content-keyed 8-shard layout
    * → 256-token sequence packing, as a single composed pipeline. The
    * oracle recomputes the WHOLE composition in DuckDB — the mixture
    * plan and kept set, both content hashes, the per-shard order, and
    * the integer packing bounds — so the exact exported layout of the
    * rebalanced corpus is pinned end-to-end. PlanSpec pins the composed
    * plan at its two-shuffle floor.
    */
  def q81(s: SparkSession, dir: String): DataFrame =
    TextOps.curateExport(t(s, dir)("documents"), "source", "doc_id", "text",
      weights = Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2),
      nShards = 8, ctxTokens = 256)
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
        col("tok_offset"), col("seq_first"), col("seq_last"))

  /** Temperature-rebalanced mixture ([[TextOps.temperatureWeights]] at
    * the canonical alpha = 0.5 feeding [[TextOps.rebalanceMixture]]):
    * the corpus's own skew — induced here by the ≥60-token eligibility
    * gate, which leaves 7–15 docs per source — is flattened toward
    * square-root proportions, the standard multilingual/multi-source
    * sampling knob. Weights are UNNORMALIZED sqrt(c) (rebalance is
    * scale-invariant; sqrt is correctly rounded by IEEE, so every
    * floor(m·w) boundary is bit-identical in DuckDB). The oracle
    * recomputes eligibility, counts, weights, the binding minimum and
    * the full per-source rank selection.
    */
  def q83(s: SparkSession, dir: String): DataFrame = {
    val eligible = t(s, dir)("documents")
      .filter(TextOps.tokenCount(col("text")) >= 60)
    // ONE source-count aggregate feeds both the temperature weights and
    // the rebalance targets (the counts-supplied overloads) — the naive
    // composition would tokenize-and-count the corpus twice more
    val counts = TextOps.sourceCounts(eligible, "source")
    val w = TextOps.temperatureWeights(counts, alpha = 0.5)
    TextOps.rebalanceMixture(eligible, "source", "doc_id", "text", w,
        oversample = 4.0, sourceCounts = counts)
      .select(col("source"), col("rnk"), col("doc_id"))
  }

  /** Grouped temperature mixture ([[TextOps.temperatureMixtureByGroup]]
    * at alpha = 0.5): q83 flattens the GLOBAL source skew; this
    * rebalances each language independently — per-lang sqrt weights,
    * per-lang binding minimum — the multilingual-pipeline shape where a
    * scarce language must not starve an abundant one (a composite
    * lang×source key through the ungrouped rebalance would take ONE
    * global minimum and do exactly that). Three sources × every fixture
    * language; the oracle recomputes the per-cell counts, per-group
    * sqrt weights and binding minimum, and the full per-cell rank
    * selection in DuckDB.
    */
  def q84(s: SparkSession, dir: String): DataFrame =
    TextOps.temperatureMixtureByGroup(t(s, dir)("documents"), "lang",
        "source", "doc_id", "text", alpha = 0.5,
        sources = Seq("src1", "src2", "src3"))
      .select(col("lang"), col("source"), col("rnk"), col("doc_id"))

  /** Keep-best-per-cluster canonical selection
    * ([[Dedup.survivorsByQuality]]) — the production curation rule: of
    * each transitive near-dup cluster (the shared [[verifiedPairs]] set,
    * like q39/q46), the HIGHEST-[[TextOps.qualityScore]] member survives
    * (ties to the smaller doc_id), vs q39's keep-smallest-id greedy. The
    * oracle replays the WHOLE chain in DuckDB: shingle-Jaccard pairs,
    * recursive-CTE connected components, the quality expression, the
    * per-cluster (q desc, id) argmax, and the final anti-join.
    */
  def q85(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    Dedup.survivorsByQuality(docs, "doc_id", verifiedPairs(s, dir),
        TextOps.qualityScore(col("text")))
      .select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
  }

  /** Intra-document repetition removal ([[Dedup.intraDocDedup]] at word
    * grain): within each doc, every repeated unit is dropped after its
    * first occurrence IN THAT DOC — the in-page boilerplate cleanup,
    * distinct from q62's corpus-wide first-occurrence rule. The plan is
    * scan → project with ZERO exchanges (PlanSpec-pinned): pure
    * higher-order array functions, per-doc bounded work, full scan
    * bandwidth at any corpus size. The oracle rebuilds every surviving
    * string with DuckDB's index-aware list_filter.
    */
  def q86(s: SparkSession, dir: String): DataFrame =
    Dedup.intraDocDedup(t(s, dir)("documents"), "doc_id", "text", sep = " ")

  /** SemDeDup-style semantic dedup pairs ([[Similarity.semanticPairs]]):
    * k-means-cell-bounded cosine pairs with the default two-probe
    * assignment and AUTO-SIZED nlist (the r18 q87-probe lesson: a
    * pinned nlist makes Σ|cell|² grow n²/nlist — the sf1 backfill
    * probe priced it 92.6× at 10× rows; auto-sizing restores the
    * documented ≈ n^1.5 cell-join cost, re-probed 32×, all of it the
    * comparator below), self-gated (the q29/q51 posture) against the
    * exact all-pairs comparator [[Similarity.exactCosinePairs]] inside
    * the query — the DELIBERATELY quadratic half this gate exists to
    * run (the q166 fit-in-query posture: the probe row prices the
    * comparator; the `prod_semantic_pairs` probe row prices the
    * production path alone, ~n^1.5). This fixture is the ADVERSARIAL
    * case — near-random vectors, threshold 0.4 barely above the 0.51
    * corpus max, no cluster structure — and two-probe still clears the
    * 0.5 recall floor; OpsSpec pins ≥0.9 with zero false positives on
    * planted clusters, the actual SemDeDup regime. The oracle pins the
    * exact-side pair count (DuckDB all-pairs cosine) and the gate
    * boolean.
    */
  def q87(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val approx = Similarity.semanticPairs(emb, threshold = 0.4)
      .select(col("a_id"), col("b_id"))
    val exact = Similarity.exactCosinePairs(emb, threshold = 0.4)
      .select(col("a_id"), col("b_id"))
    val nHits = approx.join(exact, Seq("a_id", "b_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    nExact.crossJoin(nHits)
      .select(col("n_exact"),
        (col("n_exact") === 0 ||
          col("n_hits").cast("double") / col("n_exact") >= 0.5)
          .as("recall_ok"))
  }

  /** DSIR-style importance selection ([[TextOps.importanceSelect]]):
    * src0 is the small high-quality TARGET corpus, every other source is
    * the raw pool, and the 100 raw docs whose hashed-unigram (256-bucket
    * poly-31) histogram best matches src0's — by smoothed
    * log-likelihood-ratio weight — are selected. The oracle recomputes
    * the ENTIRE method in DuckDB: the per-token portable fingerprint,
    * the bucket histograms of both classes, the smoothed log-ratio
    * table, every doc's weight under the round-inside-round contract,
    * and the final (dsir desc, doc_id) top-100.
    */
  def q88(s: SparkSession, dir: String): DataFrame =
    TextOps.importanceSelect(t(s, dir)("documents"), "doc_id", "text",
      isTarget = col("source") === "src0", n = 100,
      numBuckets = 256, alpha = 1.0)

  /** Hard-negative mining ([[Similarity.hardNegatives]]): for each of
    * the first 10 embeddings, the 5 most cosine-similar vectors with a
    * DIFFERENT label, excluding near-duplicates (sim ≥ 0.95) — the
    * contrastive-training negatives a DPR-style retriever trains on.
    * The oracle replays the label-mismatch filtered all-pairs cosine
    * ranking in DuckDB (q28's pattern plus the label and ceiling
    * predicates).
    */
  def q89(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
        k = 5, dupCeil = 0.95)
      .withColumn("sim", round(col("sim"), 4))
  }

  /** Stupid Backoff bigram surprisal
    * ([[TextOps.stupidBackoffSurprisal]]): unigram + bigram statistics
    * fit on the reference corpus (every source but src0), then src0's
    * documents scored cross-corpus — the realistic shape where the
    * backoff path actually fires (self-scoring never backs off: a doc's
    * own bigrams are in its corpus's table by construction). The oracle
    * recomputes BOTH frequency tables, the per-token three-way case
    * (first-token unigram / seen-bigram conditional / α-penalized
    * backoff with the singleton floor), and the per-doc mean in DuckDB.
    */
  def q91(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val ref = docs.filter(col("source") =!= "src0")
    TextOps.stupidBackoffSurprisal(docs.filter(col("source") === "src0"),
      "doc_id", "text",
      TextOps.termFreqs(ref, "text"), TextOps.bigramFreqs(ref, "text"))
  }

  /** Passage-grain MaxP retrieval ([[Retrieval.maxPassageTopK]]): q69's
    * query set (first 5 src0 docs, first 8 words) against the same
    * corpus, but ranked at CHUNK grain (window 30 / overlap 5 — q60's
    * chunking parameters) with per-doc best-chunk aggregation over the
    * chunk top-10 pool. The oracle replays chunking, chunk-grain BM25
    * (including the bytewise "<doc>#<idx>" tie-break), the MaxP
    * aggregate, and the doc re-rank end to end in DuckDB.
    */
  def q90(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val queries = docs.filter(col("source") === "src0")
      .orderBy(col("doc_id")).limit(5)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 8)).as("qtext"))
    Retrieval.maxPassageTopK(docs.filter(col("source") =!= "src0"), queries,
      window = 30, overlap = 5, chunkPool = 10, topK = 3)
  }

  /** Product-quantization ANN ([[Similarity.fitPq]] →
    * [[Similarity.pqTopK]]): the MEMORY-bound scale path — the corpus
    * compresses to m=8 cell ids + a cached norm per row (vs 64 floats),
    * the ADC sweep scores the compressed relation in O(m) per pair via
    * the native `pq_adc` lookup-sum, and only the refine×k ADC winners
    * per query are exactly re-ranked against their full vectors.
    * Self-gated like q29/q51: on this fixture's near-random vectors
    * (the adversarial no-cluster-structure case) recall@5 at refine=10
    * measures 0.84 at sf0.01 and 0.48 at sf0.1 — the top-1% ADC
    * candidates at sf0.1 against a 1% random baseline — deterministic
    * (hash-least fit sample, seeded Lloyd, tie-broken top-k); floor 0.3
    * leaves margin. OpsSpec pins ≥0.9 on clustered vectors, the regime
    * real embedding corpora live in.
    */
  def q92(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val qs = emb.filter(col("vec_id") < 10)
    annRecallGate(
      Similarity.pqTopK(Similarity.fitPq(emb, m = 8, ksub = 16), emb, qs,
        k = 5, refine = 10),
      Similarity.bruteForceTopK(emb, qs, k = 5), floor = 0.3)
  }

  /** Tokenizer fertility / compression report
    * ([[TextOps.tokenizerFertility]]) under the [[FixedBpeMerges]] table
    * (a fixed encode table is corpus-independent input, the q79
    * convention — q78/q82 gate the learning itself): per source, total
    * whitespace words, subword tokens and chars, plus fertility
    * (subwords per word — the wrong-script detector) and chars-per-token
    * (the compression ratio that sizes token budgets in bytes). The
    * oracle replays the per-word greedy encode, both token counts and
    * the per-source rollup in DuckDB.
    */
  def q93(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenizerFertility(t(s, dir)("documents"), "source", "text",
      FixedBpeMerges)

  /** Per-label embedding centroid outliers
    * ([[Similarity.embeddingOutliers]]): each label's 5 members farthest
    * (by cosine) from their own label centroid — the mislabel/corrupt-
    * vector screen. The oracle recomputes the per-dimension centroid
    * averages, every cosine and the per-label farthest-5 rank in DuckDB.
    */
  def q94(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingOutliers(t(s, dir)("embeddings"), "label", n = 5)

  /** IVF-PQ ANN ([[Similarity.fitIvfPq]] → [[Similarity.probeIvfPq]]):
    * the deployed composition (FAISS IndexIVFPQ) — IVF routes each query
    * to nprobe/nlist of the corpus, PQ compresses the inverted file to
    * m code ids + a norm per row, ADC scores the probed cells in
    * O(m)/row, refine×k winners re-ranked exactly. Self-gated like
    * q29/q51/q92; on the near-random fixture both approximations stack
    * — measured recall@5 0.58 at sf0.01 / 0.28 at sf0.1 (≈ the q51 IVF
    * recall × the q92 PQ-candidate recall, deterministic) — floor
    * 0.2 leaves margin. OpsSpec pins ≥0.9 on clustered vectors with the
    * codes-only inverted-file shape asserted.
    */
  def q95(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val qs = emb.filter(col("vec_id") < 10)
    annRecallGate(
      Similarity.probeIvfPq(Similarity.fitIvfPq(emb, nlist = 16), emb, qs,
        k = 5, nprobe = 4, refine = 10),
      Similarity.bruteForceTopK(emb, qs, k = 5), floor = 0.2)
  }

  /** Curriculum-ordered export layout ([[TextOps.curriculumShard]]):
    * content-keyed shard assignment (q65's diversity/determinism
    * contract) with the within-shard order flipped to quality-descending
    * — pos 1 of every shard is its cleanest document. The oracle replays
    * the quality score (q68's expression), the `shard:` fingerprint, the
    * shard assignment and the full (q DESC NULLS LAST, fp, doc_id) rank
    * in DuckDB.
    */
  def q96(s: SparkSession, dir: String): DataFrame =
    TextOps.curriculumShard(t(s, dir)("documents"), "doc_id", "text",
      nShards = 8, TextOps.qualityScore(col("text")))
      .select(col("doc_id"), col("shard"), col("pos"),
        TextOps.qualityScore(col("text")).as("q"))

  /** PII audit + redaction ([[TextOps.piiCounts]] /
    * [[TextOps.redactPii]]) with a NON-VACUOUS oracle: the synthetic
    * corpus contains no digits or addresses, so the gate plants one
    * instance of every pattern class — an email, an E.164 international
    * phone, a NANP phone, a dotted-quad IPv4 and an in-URL credential
    * whose password tail is itself email-shaped (the ordering trap the
    * redactor exists to handle) — built DETERMINISTICALLY from
    * `doc_id`, so every row's planted PII is distinct and the DuckDB
    * oracle rebuilds the same text byte-for-byte and replays both the
    * per-pattern counts and the full ordered redaction chain on its own
    * regex engine (the patterns are RE2/Java-portable by construction —
    * see [[TextOps.EmailPattern]]'s scaladoc). One corpus scan, all
    * regexes codegen'd per row, zero joins.
    */
  def q97(s: SparkSession, dir: String): DataFrame = {
    val full = concat(
      coalesce(col("text"), lit("")),
      lit(" contact user"), col("doc_id"), lit("@ex-"),
      pmod(col("doc_id"), lit(7L)), lit(".org call +44 20 7946 0"),
      pmod(col("doc_id"), lit(10L)), lit("58 or 415-555-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
      lit(" host 10."), pmod(col("doc_id"), lit(256L)), lit(".0."),
      pmod(col("doc_id"), lit(100L)),
      lit(" fetch https://bob:pw"), col("doc_id"),
      lit("@files.example.com/x"))
    t(s, dir)("documents")
      .select(col("doc_id"), TextOps.piiCounts(full).as("__pii"),
        TextOps.redactPii(full).as("text_redacted"))
      .select(col("doc_id"),
        col("__pii.n_emails").cast("long").as("n_emails"),
        col("__pii.n_phones").cast("long").as("n_phones"),
        col("__pii.n_intl_phones").cast("long").as("n_intl_phones"),
        col("__pii.n_ipv4").cast("long").as("n_ipv4"),
        col("__pii.n_url_creds").cast("long").as("n_url_creds"),
        col("text_redacted"))
  }

  /** CCNet perplexity buckets ([[TextOps.perplexityBuckets]]): per
    * source, the head/middle/tail surprisal tiers — the public CCNet
    * recipe's bucketing step over q73's LM-proxy score. The oracle
    * replays the unigram model, every per-doc mean and the NTILE(3)
    * tiling (surprisal asc, id tie-break) in DuckDB.
    */
  def q98(s: SparkSession, dir: String): DataFrame =
    TextOps.perplexityBuckets(t(s, dir)("documents"), "doc_id", "text",
      "source")

  /** Deterministic weighted sampling ([[TextOps.weightedSample]] —
    * Efraimidis–Spirakis A-Res with fingerprint-derived uniforms):
    * the global quality-weighted 50-document subsample, weight
    * `quality + 0.01` (the floor keeps zero-quality docs sampleable-
    * last instead of undefined). The oracle replays the salted
    * squared-ring fingerprint, the uniform, the log-space priority and
    * the full (key desc, id) top-50 in DuckDB.
    */
  def q99(s: SparkSession, dir: String): DataFrame =
    TextOps.weightedSample(t(s, dir)("documents"), "doc_id", "text",
      TextOps.qualityScore(col("text")) + lit(0.01), n = 50)
      .select(col("rnk"), col("doc_id"), col("source"), col("w"),
        col("ws_key"))

  /** Per-group weighted sampling ([[TextOps.weightedSampleByGroup]]):
    * each source's own quality-weighted exact-10 A-Res subsample — the
    * multilingual per-language curation shape. The oracle replays the
    * `wsg:`-salted priority chain and the per-source (key desc, id)
    * top-10 in DuckDB.
    */
  def q100(s: SparkSession, dir: String): DataFrame =
    TextOps.weightedSampleByGroup(t(s, dir)("documents"), "source",
      "doc_id", "text", TextOps.qualityScore(col("text")) + lit(0.01),
      n = 10)
      .select(col("source"), col("rnk"), col("doc_id"), col("w"),
        col("ws_key"))

  /** Session-cached STORED lexical index over the non-src1 corpus —
    * [[storedIvf]]'s pattern for BM25: the first use runs the full
    * production lifecycle ([[Retrieval.fitPostings]] →
    * [[Retrieval.PostingsIndex.save]] → [[Retrieval.loadPostings]]) into
    * a temp directory; every later use (including every timed bench pass
    * of q102) reads the STORED term-sorted postings and pays only the
    * indexed probe — the fit-once-probe-per-batch cost model.
    */
  private def storedPostings(s: SparkSession,
                             dir: String): Retrieval.PostingsIndex =
    graft.SessionMemo(s, "postings-stored", dir) {
      val corpus = t(s, dir)("documents").filter(col("source") =!= "src1")
      val path = graft.SessionMemo.tempDir("graft-postings-stored-")
      Retrieval.fitPostings(corpus).save(path)
      Retrieval.loadPostings(s, path)
    }

  /** BM25 over the STORED postings index ([[Retrieval.probePostings]]
    * against the session's [[storedPostings]]) — the lexical sibling of
    * q80's stored-ANN production path: q69 pays a corpus tokenize +
    * explode on every call, this row pays a pushed-`IN` indexed read of
    * the query terms' postings only (plan-pinned in PlanSpec). The index
    * is EXACT, so unlike q80 the oracle is the full DuckDB BM25 replay —
    * a different query set than q69 (5 lowest-id src1 docs, first 6
    * words, vs the non-src1 corpus, top-5) so the two rows never share a
    * cached result.
    */
  def q102(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val queries = docs.filter(col("source") === "src1")
      .orderBy(col("doc_id")).limit(5)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 6)).as("qtext"))
    Retrieval.probePostings(storedPostings(s, dir), queries, topK = 5)
  }

  /** Cross-document repeated-span removal ([[Dedup.stripRepeatedSpans]]
    * — the Lee et al. 2021 exact-substring dedup pass at token-window
    * grain): every 15-token window shared verbatim by ≥ 2 documents is
    * cut from all carriers except the min-id keeper, overlapping windows
    * merged into maximal spans. The fixture's planted exact/near dups
    * give the pass real work (23 flagged docs at sf0.001). The oracle
    * replays the ENTIRE pass in DuckDB: both polynomial hash levels per
    * window, the distinct-carrier statistics, the keeper rule, the
    * gaps-and-islands span merge and the index-aware token cut.
    */
  def q103(s: SparkSession, dir: String): DataFrame =
    Dedup.stripRepeatedSpans(t(s, dir)("documents"), "doc_id", "text",
      window = 15)

  /** Session-cached STORED span-fingerprint index over the even-id half
    * of the corpus — [[storedPostings]]'s pattern for the span pass:
    * first use runs [[Dedup.fitSpanIndex]] → save → load into a temp
    * dir; every later use (every timed q104 pass) reads the stored fp
    * set and pays only the batch-side probe.
    */
  private def storedSpanIdx(s: SparkSession, dir: String): Dedup.SpanIndex =
    graft.SessionMemo(s, "spanidx-stored", dir) {
      val base = t(s, dir)("documents").filter(col("doc_id") % 2 === 0)
      val path = graft.SessionMemo.tempDir("graft-spanidx-stored-")
      Dedup.fitSpanIndex(base, "doc_id", "text", window = 15).save(path)
      Dedup.loadSpanIndex(s, path)
    }

  /** Ingest-door span scrub against the STORED index
    * ([[Dedup.crossStripSpans]] over [[storedSpanIdx]]): the even-id
    * half of the corpus is the admitted base, the odd-id half the
    * arriving batch — every 15-token run the base already carries is cut
    * from the batch (10–11 flagged docs at sf0.001/sf0.01: the planted
    * dup pairs whose members straddle the parity split). The per-call
    * cost is the BATCH's windows + one semi-join against the stored fp
    * set; the base is never re-tokenized. The oracle replays the whole
    * pass: base fp set, batch windows, island merge, cut.
    */
  def q104(s: SparkSession, dir: String): DataFrame =
    Dedup.crossStripSpans(
      t(s, dir)("documents").filter(col("doc_id") % 2 === 1),
      storedSpanIdx(s, dir), "doc_id", "text")

  /** Deterministic planted URL per document (the fixture corpus has no
    * url column — the q97 PII posture: plant every branch the operator
    * must handle from doc_id so the oracle can rebuild the input
    * byte-for-byte): scheme varies, occasional userinfo and port —
    * both must be STRIPPED by host extraction — and a
    * `www.site{k}.{suffix}` host whose registered domain sweeps 97 site
    * labels × 5 public suffixes, three of them multi-label (`co.uk`,
    * `github.io`, `com.au` — the cases a naive last-two-labels rule
    * collapses wrongly).
    */
  private def plantedUrl: Column = concat(
    when(pmod(col("doc_id"), lit(3L)) === 0, lit("https://"))
      .otherwise(lit("http://")),
    when(pmod(col("doc_id"), lit(11L)) === 0,
      concat(lit("crawler"), col("doc_id"), lit(":tok@"))).otherwise(lit("")),
    lit("www.site"), pmod(col("doc_id"), lit(97L)), lit("."),
    element_at(
      array(lit("com"), lit("co.uk"), lit("org"), lit("github.io"),
        lit("com.au")),
      (pmod(col("doc_id"), lit(5L)) + 1).cast("int")),
    when(pmod(col("doc_id"), lit(13L)) === 0, lit(":8443"))
      .otherwise(lit("")),
    lit("/p/"), col("doc_id"), lit("?ref=r"), pmod(col("doc_id"), lit(4L)))

  /** URL/domain curation pass ([[graft.ops.WebOps]]): host extraction
    * (userinfo/port/path stripped), public-suffix-aware registered
    * domain, a 2-domain blocklist, then the RefinedWeb-style per-domain
    * cap of 5 chosen by the salted content fingerprint. At sf0.01 the
    * 500 docs spread over 97 site labels (~5.15 docs/domain), so both
    * cap outcomes occur: some domains keep every page, others are cut
    * at 5 by the map-side-pruned rank (WindowGroupLimit — PlanSpec).
    * The oracle rebuilds the planted URL, extracts the host with the
    * IDENTICAL regex, replays the suffix CASE, the blocklist, the
    * `domcap:` fingerprint chain and the rank-≤-5 filter.
    */
  def q108(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
      .withColumn("host", WebOps.urlHost(plantedUrl))
    val unblocked = WebOps.domainBlocklist(docs,
      WebOps.registeredDomain(col("host")),
      Seq("site0.com", "site13.co.uk"))
    WebOps.perDomainCap(unblocked, WebOps.registeredDomain(col("host")),
      "doc_id", "text", n = 5)
      .select(col("doc_id"), col("host"), col("domain"))
  }

  /** Distinct-n diversity report ([[TextOps.ngramDiversity]]): per
    * source, distinct-1/2/3 type counts, occurrence totals and ratios.
    * The oracle rebuilds every n-gram of every doc via DuckDB list
    * slicing, the exact totals arithmetic, and the per-(source, n)
    * distinct counts.
    */
  def q109(s: SparkSession, dir: String): DataFrame =
    TextOps.ngramDiversity(t(s, dir)("documents"), "source", "text")

  /** Per-source winsorized z-normalization of the quality score
    * ([[TextOps.winsorizedZScores]], 5/95 band): the cross-source
    * comparability step before a global cut. The oracle replays the
    * quality expression, the rank order statistics at
    * max(ceil(cnt·pct/100), 1), the clamp, the 9dp moments and the 4dp
    * z — including the single-doc-group z = 0.0 pin.
    */
  def q110(s: SparkSession, dir: String): DataFrame =
    TextOps.winsorizedZScores(t(s, dir)("documents"), "source", "doc_id",
      TextOps.qualityScore(col("text")))

  /** Corpus snapshot diff ([[TextOps.corpusDiff]]) between two planted
    * versions of the corpus: v1 = even ids, v2 = ids not divisible by 3
    * with every 10th doc's text EDITED (a deterministic ` editv2
    * tokenx{id%7}` suffix) — so all four doc statuses occur and the
    * edits introduce novel vocabulary. The oracle replays both
    * projections, the fingerprint comparison, the per-source status
    * counts, and both distinct-term anti-joins.
    */
  def q111(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val v1 = docs.filter(col("doc_id") % 2 === 0)
    val v2 = docs.filter(col("doc_id") % 3 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" editv2 tokenx"),
            pmod(col("doc_id"), lit(7L)))).otherwise(col("text")))
    TextOps.corpusDiff(v1, v2, "doc_id", "text", "source")
  }

  /** Seed-set quality classifier ([[graft.ops.Classify]]): src1 is the
    * curated seed class, everything else the raw crawl; every raw doc
    * gets its Naive-Bayes log-odds and the keep decision at 0. The
    * oracle replays the ENTIRE fit and score in DuckDB — both class
    * token histograms, the joint-vocabulary smoothing, every 9dp
    * per-term weight, the prior bias, the unseen-term default, and each
    * doc's 4dp log-odds sum.
    */
  def q113(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val m = Classify.fitNbClassifier(docs, "text", col("source") === "src1")
    Classify.nbScore(docs.filter(col("source") =!= "src1"), "doc_id",
      "text", m)
  }

  /** Normalization-aware dedup ([[TextOps.canonText]], the native
    * `text_canon` NFC → lowercase → whitespace-collapse expression):
    * the corpus is doubled with a NOISY replica of every doc — upper-
    * cased, whitespace reflowed, and carrying the DECOMPOSED form
    * (`e` + U+0301) of an accent the original carries COMPOSED (é) —
    * and the per-source distinct counts are taken on the raw text and
    * on the canonical form. Raw sees ~2× distinct (the noise hides
    * every duplicate); canonical collapses each replica back onto its
    * original. The oracle rebuilds both variants with `chr()` code
    * points and replays the canonicalization as
    * `nfc_normalize` + `lower` + regex trim/collapse. Both distinct
    * counts are two-phase (distinct → count), never countDistinct's
    * Expand.
    */
  def q115(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val base = docs.select(col("doc_id"), col("source"),
      concat(coalesce(col("text"), lit("")), lit(" Caf\u00e9")).as("t"))
    val noisy = docs.select((col("doc_id") + 1000000L).as("doc_id"),
      col("source"),
      concat(upper(coalesce(col("text"), lit(""))),
        lit("   Cafe\u0301  ")).as("t"))
    val all = base.unionByName(noisy)
    val nDocs = all.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val rawD = all.select(col("source"), col("t")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("raw_distinct"))
    val canD = all.select(col("source"), TextOps.canonText(col("t")).as("c"))
      .distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("canon_distinct"))
    nDocs.join(rawD, Seq("source")).join(canD, Seq("source"))
  }

  /** One-call WEB-CURATION composition — the q63/q81 posture for the
    * web-side stages: blocklist → RefinedWeb per-domain cap → seed-set
    * NB classifier, with the inter-stage contract that the model is FIT
    * ON THE CAPPED corpus (a classifier fit before the cap would learn
    * from exactly the crawl-heavy domains the cap exists to discount).
    * Output: EVERY capped raw doc with its domain, 4dp log-odds and
    * keep decision — all ~470 scored rows hash (a keep-only output
    * left 1 row at this seed/threshold, a near-vacuous gate). The
    * oracle replays the ENTIRE composition in DuckDB — planted URL,
    * host regex, suffix CASE, blocklist, fingerprint cap rank, then the
    * full NB fit (on the capped set) and every doc's 4dp log-odds and
    * the keep cut.
    */
  def q117(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
      .withColumn("host", WebOps.urlHost(plantedUrl))
    val capped = WebOps.perDomainCap(
      WebOps.domainBlocklist(docs, WebOps.registeredDomain(col("host")),
        Seq("site0.com", "site13.co.uk")),
      WebOps.registeredDomain(col("host")), "doc_id", "text", n = 5)
    val m = Classify.fitNbClassifier(capped, "text",
      col("source") === "src1")
    Classify.nbScore(capped.filter(col("source") =!= "src1"), "doc_id",
        "text", m)
      .join(capped.select(col("doc_id"), col("domain")), Seq("doc_id"))
      .select(col("doc_id"), col("domain"), col("nb_logodds"), col("keep"))
  }

  /** Misra–Gries heavy hitters ([[Sketch.heavyHitters]], k=24 counters
    * against a 31-term vocabulary — the summary genuinely overflows, so
    * decrement and merge-trim both run): for every (source, term) whose
    * EXACT frequency exceeds the n/(k+1) guarantee threshold, the query
    * emits the exact count plus the two guarantee booleans — the term
    * IS in the summary, and its estimate sits in
    * [exact − n/(k+1), exact] (integer-safe cross-multiplied). Summary
    * CONTENT is order-dependent for borderline items, so only the
    * order-invariant guarantees are gated (the q37 sketch posture); the
    * oracle recomputes the exact heavy set and pins both booleans.
    */
  def q116(s: SparkSession, dir: String): DataFrame = {
    val k = 24
    val toks = t(s, dir)("documents").select(col("source"),
      explode(TextOps.tokens(col("text"))).as("term"))
    val mg = Sketch.heavyHitters(toks, "source", col("term"), k)
      .withColumnRenamed("group", "source")
    val exact = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n_exact"))
    val totals = toks.groupBy(col("source")).agg(count(lit(1)).as("__n_tot"))
    val est = try_element_at(col("mg"), col("term"))
    exact.join(totals, Seq("source"))
      .filter(col("n_exact") * (k + 1) > col("__n_tot"))
      .join(mg, Seq("source"))
      .select(col("source"), col("term"), col("n_exact"),
        est.isNotNull.as("in_summary"),
        (coalesce(est, lit(0L)) <= col("n_exact") &&
          coalesce(est, lit(0L)) * (k + 1) >=
            col("n_exact") * (k + 1) - col("__n_tot")).as("est_ok"))
  }

  /** Stored Count–Min frequency registry ([[graft.ops.Sketch.fitFreq]] /
    * extendFreq / estimateFreq): the even-id half of the token stream
    * is the fitted base, the odd-id half the arriving batch folded in
    * by counter addition (CMS linearity — extend ≡ refit BIT-IDENTICAL,
    * spec-pinned); per source the top-40 terms by exact count probe the
    * registry through the native `cms_query` expression and gate the
    * two CMS guarantees — the estimate NEVER undercounts (over_ok) and
    * overcounts by ≤ ε·n_tot (bound_ok, ε = 1e-4) — the q37 sketch
    * posture: the oracle recomputes the exact side (counts, totals, the
    * deterministic (n DESC, term) top-40 rank) and pins the booleans.
    * The OVERcount-bounded complement of q116's Misra–Gries
    * (undercounts, k items only): together they bracket every frequency
    * from both sides out of O(G × sketch) state.
    */
  def q118(s: SparkSession, dir: String): DataFrame = {
    val eps = 1e-4
    val toks = t(s, dir)("documents").select(col("doc_id"), col("source"),
      explode(TextOps.tokens(col("text"))).as("term"))
    val idx = Sketch.fitFreq(toks.filter(col("doc_id") % 2 === 0),
      "source", col("term"), "tok-v1", eps = eps)
    val ext = Sketch.extendFreq(idx, toks.filter(col("doc_id") % 2 === 1),
      "source", col("term"), "tok-v1")
    val exact = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n_exact"))
    val totals = toks.groupBy(col("source")).agg(count(lit(1)).as("n_tot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_exact").desc, col("term"))
    val probes = exact
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 40).drop("__rk")
    Sketch.estimateFreq(ext, probes, "source", "term")
      .withColumnRenamed("group", "source")
      .withColumnRenamed("item", "term")
      .join(probes, Seq("source", "term"))
      .join(totals, Seq("source"))
      .select(col("source"), col("term"), col("n_exact"),
        col("est").isNotNull.as("in_registry"),
        (col("est") >= col("n_exact")).as("over_ok"),
        (col("est") <= col("n_exact") + col("n_tot") * eps).as("bound_ok"))
  }

  /** Boilerplate line removal ([[Dedup.stripBoilerplate]]) — the
    * remove-ALL-copies cut that completes the line-grain family next to
    * q62's keep-first lineDedup and q86's within-doc pass: every line
    * carried by ≥ minDf distinct documents of its source is removed
    * everywhere, first copy included (nav bars and footers are worth
    * zero occurrences). The fixture corpus is single-line, so the
    * boilerplate is PLANTED at line grain: a per-source nav line
    * (df = the whole source, cut), a promo line cycling on doc_id % 3
    * (df ≈ source/3, cut at minDf = 20), and a rare line on
    * doc_id % 67 (df ≈ 1–2, kept) — both sides of the threshold
    * genuinely exercised, the original text line rides through. The
    * oracle replays the planting, per-source distinct-carrier counts,
    * the threshold and every reassembled string.
    */
  def q120(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val planted = docs.select(col("doc_id"), col("source"),
      concat(coalesce(col("text"), lit("")),
        lit("\nnav-"), col("source"),
        lit("\npromo-"), (col("doc_id") % 3).cast("string"),
        lit("\nrare-"), (col("doc_id") % 67).cast("string")).as("t"))
    Dedup.stripBoilerplate(planted, "doc_id", "t", "source", minDf = 20)
  }

  /** Stored boilerplate histogram lifecycle
    * ([[Dedup.fitBoilerplateIndex]] / extendBoilerplateIndex /
    * stripWithBoilerplateIndex) — q120's ingest-door form, the q104/q114
    * even/odd posture: the even-id half of the planted corpus is the
    * fitted base, the odd-id half the arriving batch folded in by
    * integer carrier addition, then the SAME odd batch is scrubbed
    * against the extended histogram at minDf = 15 — the line a batch
    * pushes over the bar is cut from the batch itself. The oracle
    * recomputes the full-corpus distinct-carrier counts and every odd
    * doc's reassembled string.
    */
  def q122(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val planted = docs.select(col("doc_id"), col("source"),
      concat(coalesce(col("text"), lit("")),
        lit("\nnav-"), col("source"),
        lit("\npromo-"), (col("doc_id") % 3).cast("string"),
        lit("\nrare-"), (col("doc_id") % 67).cast("string")).as("t"))
    val idx = Dedup.fitBoilerplateIndex(
      planted.filter(col("doc_id") % 2 === 0), "doc_id", "t", "source")
    val odd = planted.filter(col("doc_id") % 2 === 1)
    val ext = Dedup.extendBoilerplateIndex(idx, odd, "doc_id", "t", "source")
    Dedup.stripWithBoilerplateIndex(ext, odd, "doc_id", "t", "source",
      minDf = 15)
  }

  /** Coarser planted URL for the per-DOMAIN boilerplate pass: 13 site
    * labels × 5 suffixes = 65 registered domains, so at sf0.01 each
    * domain carries ~7–8 documents — enough distinct carriers that a
    * per-domain line frequency can genuinely clear (or miss) a
    * boilerplate threshold, where [[plantedUrl]]'s 97×5 sweep leaves
    * ~1 doc per domain (right for the cap/blocklist queries, degenerate
    * for df counting). Same structural branches — scheme, userinfo,
    * port — so host extraction is exercised identically.
    */
  private def plantedUrlCoarse: Column = concat(
    when(pmod(col("doc_id"), lit(3L)) === 0, lit("https://"))
      .otherwise(lit("http://")),
    when(pmod(col("doc_id"), lit(11L)) === 0,
      concat(lit("crawler"), col("doc_id"), lit(":tok@"))).otherwise(lit("")),
    lit("www.hub"), pmod(col("doc_id"), lit(13L)), lit("."),
    element_at(
      array(lit("com"), lit("co.uk"), lit("org"), lit("github.io"),
        lit("com.au")),
      (pmod(col("doc_id"), lit(5L)) + 1).cast("int")),
    when(pmod(col("doc_id"), lit(13L)) === 0, lit(":8443"))
      .otherwise(lit("")),
    lit("/p/"), col("doc_id"))

  /** Boilerplate removal at REGISTERED-DOMAIN grain — the production
    * form of q120's cut (RefinedWeb strips nav/footer lines per
    * registered domain, because boilerplate is site-templated and one
    * site spans many hosts): [[WebOps.urlHost]] → [[WebOps
    * .registeredDomain]] (public-suffix-aware) composed with
    * [[Dedup.stripBoilerplate]] grouped by the domain. The planted nav
    * line (`nav-<domain>`) is carried by every doc of its domain, so at
    * minDf = 8 it is cut exactly in the domains holding ≥ 8 docs and
    * kept in the smaller ones — BOTH threshold outcomes on the SAME
    * planted line, decided by real per-domain carrier counts (the
    * 65-domain [[plantedUrlCoarse]] sweep leaves domain sizes
    * straddling 8 at sf0.01); the per-doc `promo-<id%3>` line stays
    * under the bar everywhere. The oracle replays URL planting, host
    * regex, suffix CASE, per-domain distinct-carrier counts, the
    * threshold and every reassembled string.
    *
    * Scale shape: stripBoilerplate's two carrier-count shuffles now key
    * on an UNBOUNDED-cardinality domain column — safe because the
    * operator keeps no per-group state beyond the aggregation rows
    * themselves (contrast the sketch registries' G × sketch-bytes
    * contract): the first high-G consumer of the line-grain family.
    */
  def q123(s: SparkSession, dir: String): DataFrame = {
    val withDom = t(s, dir)("documents")
      .withColumn("domain",
        WebOps.registeredDomain(WebOps.urlHost(plantedUrlCoarse)))
    val planted = withDom.select(col("doc_id"), col("domain"),
      concat(coalesce(col("text"), lit("")),
        lit("\nnav-"), col("domain"),
        lit("\npromo-"), (col("doc_id") % 3).cast("string")).as("t"))
    Dedup.stripBoilerplate(planted, "doc_id", "t", "domain", minDf = 8)
      .join(withDom.select(col("doc_id"), col("domain")), Seq("doc_id"))
      .select(col("doc_id"), col("domain"), col("n_units"),
        col("n_kept"), col("text_clean"))
  }

  /** URL-keyed dedup under canonicalization ([[WebOps.urlCanonicalize]]
    * / [[WebOps.dedupByCanonicalUrl]]) — the crawl-frontier pass that
    * runs BEFORE content dedup: the same page re-fetched under scheme/
    * host case noise, userinfo, an explicit default port, tracking
    * params and a fragment must collide on one canonical key. Every doc
    * plants a clean fetch and a noisy re-fetch of the SAME resource
    * (uppercased scheme+host, `:80`/`:443` made explicit where the
    * clean form has no port, `utm_source`/`fbclid`/`ref` wrapped around
    * the one REAL query param whose order must survive, a fragment) —
    * so every canonical group has exactly 2 copies with the clean id as
    * keeper; every 10th doc also plants a non-URL row, which passes
    * through canonicalization UNCHANGED (identity, n_copies = 1); every
    * 7th doc also plants a bracketed-IPv6 pair (clean + case/default-
    * port/tracking-noisy) — the address's colons must never parse as a
    * port delimiter, so the pair collides while distinct addresses stay
    * distinct. The
    * oracle replays the planting and the entire normalization chain —
    * regex extracts, default-port CASE, anchored tracking filter over
    * the split param list, reassembly — so each canonical string is
    * pinned byte-for-byte.
    */
  def q126(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val id = col("doc_id")
    val sfx = element_at(
      array(lit("com"), lit("co.uk"), lit("org"), lit("github.io"),
        lit("com.au")),
      (pmod(id, lit(5L)) + 1).cast("int"))
    val clean = docs.select(id.as("id"), concat(
      when(pmod(id, lit(3L)) === 0, lit("https://")).otherwise(lit("http://")),
      when(pmod(id, lit(11L)) === 0,
        concat(lit("fetcher"), id, lit(":tok@"))).otherwise(lit("")),
      lit("www.page"), pmod(id, lit(37L)), lit("."), sfx,
      when(pmod(id, lit(13L)) === 0, lit(":8443")).otherwise(lit("")),
      lit("/a/"), id,
      lit("?q=t"), pmod(id, lit(6L)), lit("&ref=r"), pmod(id, lit(4L)))
      .as("url"))
    val noisy = docs.select((id + 1000000L).as("id"), concat(
      when(pmod(id, lit(3L)) === 0, lit("HTTPS://")).otherwise(lit("HTTP://")),
      lit("WWW.PAGE"), pmod(id, lit(37L)), lit("."), upper(sfx),
      when(pmod(id, lit(13L)) === 0, lit(":8443"))
        .otherwise(when(pmod(id, lit(3L)) === 0, lit(":443"))
          .otherwise(lit(":80"))),
      lit("/a/"), id,
      lit("?utm_source=feed&q=t"), pmod(id, lit(6L)),
      lit("&fbclid=x&ref=r9#frag")).as("url"))
    val nonUrl = docs.filter(id % 10 === 0)
      .select((id + 2000000L).as("id"),
        concat(lit("not a url "), id).as("url"))
    // bracketed IPv6 authorities (every 7th doc): the clean fetch and a
    // case/default-port/tracking-noisy re-fetch MUST collide, while the
    // address's own colons never parse as a port — distinct addresses
    // (id % 9 spreads them) keep distinct canonical keys
    val v6c = docs.filter(id % 7 === 0)
      .select((id + 3000000L).as("id"),
        concat(lit("http://[2001:db8::"), pmod(id, lit(9L)),
          lit("]/v/"), id, lit("?q=t"), pmod(id, lit(6L))).as("url"))
    val v6n = docs.filter(id % 7 === 0)
      .select((id + 4000000L).as("id"),
        concat(lit("HTTP://[2001:DB8::"), pmod(id, lit(9L)),
          lit("]:80/v/"), id, lit("?utm_source=z&q=t"),
          pmod(id, lit(6L)), lit("#frag")).as("url"))
    WebOps.dedupByCanonicalUrl(
      clean.unionByName(noisy).unionByName(nonUrl)
        .unionByName(v6c).unionByName(v6n), "url", "id")
  }

  /** Gopher + C4 quality-rule grid ([[TextOps.gopherC4Flags]]): every
    * doc's per-rule booleans under the two named public filter recipes.
    * The fixture corpus is single-line unpunctuated prose, so each
    * rule's BOTH outcomes are planted from doc_id branches (the q97/q126
    * posture): two full-replacement docs (a pure bullet list violating
    * g_bullet/g_mwl/g_alpha; an all-terminal-punct doc passing c_punct/
    * c_sent) and six append branches (stopwords, `lorem ipsum {`,
    * bullet items, `###`/ellipsis symbol salad, an ellipsis-ended line,
    * terminal punctuation) — interacting with the corpus's natural
    * 10–99 word spread, which straddles Gopher's 50-word floor on its
    * own. All thresholds are cross-multiplied integers, so the oracle
    * replays every boolean exactly.
    */
  def q128(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = when(id % 17 === 0, lit("- a\n- b\n- c\n- d"))
      .when(id % 19 === 0, lit("First line.\nSecond line!\nThird?"))
      .otherwise(concat(
        coalesce(col("text"), lit("")),
        when(id % 2 === 0, lit(" the of and that")).otherwise(lit("")),
        when(id % 3 === 0, lit("\nlorem ipsum {cfg}")).otherwise(lit("")),
        when(id % 5 === 0, lit("\n- item one\n- item two")).otherwise(lit("")),
        when(id % 7 === 0, lit(" ### 12345 99 ... …")).otherwise(lit("")),
        when(id % 11 === 0, lit("\nto be continued...")).otherwise(lit("")),
        when(id % 13 === 0, lit("\nOne. Two! Three? Go.")).otherwise(lit(""))))
    TextOps.gopherC4Flags(
      t(s, dir)("documents").select(id, planted.as("t")), "doc_id", "t")
  }

  /** Token-budget mixture fill ([[TextOps.tokenBudgetSample]]): a
    * 4000-token budget split 0.5/0.3/0.2 over src1/src2/src3 — sized so
    * BOTH outcomes occur against the fixture's ~1400 tokens per source:
    * src1's 2000-token slice exceeds its supply (every doc kept, budget
    * under-filled — the cap-not-target contract) while src2 (1200) and
    * src3 (800) genuinely cut mid-list, each with its boundary doc kept
    * (`tok_cum ≥ tok_budget` on exactly one row). The oracle replays
    * the salted fingerprint order, the running sums, the float budget
    * normalization (same literal arithmetic) and the greedy-fill cut.
    */
  def q132(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenBudgetSample(t(s, dir)("documents"), "source", "doc_id",
      "text", Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2),
      budgetTokens = 4000L)

  /** Paragraph-grain language segmentation ([[TextOps.langSegments]]):
    * the single-line fixture docs get PLANTED paragraphs — a CJK
    * paragraph on doc_id % 4 (zh), a stopword-dense English one on
    * % 6 (en), both on multiples of 12, and a pure-zh replacement doc
    * on % 25 — so all three languages occur as dominants, ties break
    * lexicographically, and both mixed and pure docs occur. The oracle replays the split, the per-segment langGuess
    * CASE (CJK codepoint regex + the 0.05 stopword-density cut), the
    * per-(doc, lang) counts, the (np DESC, lang) rank and the 4dp
    * share.
    */
  def q133(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val planted = t(s, dir)("documents").select(id,
      when(id % 25 === 0, lit("这是中文段落\n另一个中文段落\n第三段"))
        .otherwise(concat(
          coalesce(col("text"), lit("")),
          when(id % 4 === 0, lit("\n这是中文段落"))
            .otherwise(lit("")),
          when(id % 6 === 0, lit("\nthe a an of and is to the and"))
            .otherwise(lit("")))).as("t"))
    TextOps.langSegments(planted, "doc_id", "t")
  }

  /** CDC snapshot compaction ([[graft.ops.Snapshot.applyChanges]]): the
    * base corpus at version 0 takes one change batch — updates (every
    * 5th doc re-texted at version 1), tombstone deletes (every 7th
    * doc, version 1), and inserts (new ids) — and compacts to the
    * latest-wins snapshot with tombstones dropped. Docs with
    * id % 35 == 0 carry BOTH an update and a delete at the SAME
    * version — the conflict the (version DESC, deleted DESC) tie-break
    * resolves as delete-wins, genuinely exercised; the oracle replays
    * the union, the rank and the tombstone drop.
    */
  def q134(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir)("documents")
      .select(col("doc_id"), col("source"), col("text"),
        lit(0L).as("version"), lit(false).as("deleted"))
    val id = col("doc_id")
    val updates = t(s, dir)("documents")
      .filter(id % 5 === 0)
      .select(id, col("source"),
        concat(coalesce(col("text"), lit("")), lit(" v2-edit")).as("text"),
        lit(1L).as("version"), lit(false).as("deleted"))
    val deletes = t(s, dir)("documents").filter(id % 7 === 0)
      .select(id, col("source"), col("text"),
        lit(1L).as("version"), lit(true).as("deleted"))
    val inserts = t(s, dir)("documents").filter(id % 11 === 0)
      .select((id + 1000000L).as("doc_id"), col("source"),
        concat(lit("fresh "), coalesce(col("text"), lit(""))).as("text"),
        lit(1L).as("version"), lit(false).as("deleted"))
    graft.ops.Snapshot.applyChanges(base,
      updates.unionByName(deletes).unionByName(inserts), "doc_id")
  }

  /** Domain-graph centrality ([[graft.ops.Graph.pageRank]], 4
    * iterations of fixed-point integer PageRank): the web-curation
    * authority signal, equality-gated because every iteration is exact
    * int64 arithmetic — see the Graph scaladoc. The link graph is
    * planted from doc_id over the 97 site labels (the q108 domain
    * universe): two arithmetic out-edge rules per document (a site with
    * several docs gets several distinct targets), a hub rule pouring
    * every 11th doc's link into site 0 (so ranks are genuinely
    * non-uniform — the hub must come out on top), and a dangling rule
    * targeting nodes 97–99 which are never sources (so the
    * dangling-mass redistribution branch is exercised at EVERY scale
    * factor, not just small ones). The oracle unrolls the same 4
    * iterations as materialized CTEs with identical `//` arithmetic.
    * Runs with `checkpointEvery = 1` — the dupClusters discipline:
    * each iteration's node-grain ranks materialize eagerly, so the
    * executed plan (and the probe's plan fingerprint) is ONE
    * iteration's dataflow, not a 4-level inlined pyramid whose
    * fingerprint multiplies every exchange and 1-row cross join by
    * the replication count (values are bit-identical either way —
    * OpsSpec pins that).
    */
  def q137(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents")
      .select(col("doc_id"), (col("doc_id") % 97).as("src"))
    val e1 = d.select(col("src"),
      ((col("src") * 31 + 1 + col("doc_id") % 7) % 97).as("dst"))
    val e2 = d.select(col("src"),
      ((col("src") + (col("doc_id") % 5) * 13 + 3) % 97).as("dst"))
    val e3 = d.filter(col("doc_id") % 11 === 0)
      .select(col("src"), lit(0L).as("dst"))
    val e4 = d.filter(col("doc_id") % 17 === 0)
      .select(col("src"), (lit(97L) + col("doc_id") % 3).as("dst"))
    graft.ops.Graph.pageRank(e1.union(e2).union(e3).union(e4),
        "src", "dst", iters = 4, checkpointEvery = 1)
      .select(col("node").as("domain_id"), col("outdeg"), col("r_scaled"))
  }

  /** Table-grain data-quality validation ([[graft.ops.Validate.report]]):
    * the Deequ-shaped constraint report, three relations composed into
    * one audit. Every check kind runs BOTH verdicts somewhere:
    * completeness passes at 9/10 and fails at 19/20 against a planted
    * 1-in-13 null column (the fixture corpus is fully dense, so the
    * fail branch must be planted — the q97 posture); uniqueness passes
    * on orders' key and fails on lineitem's (l_orderkey, l_linenumber),
    * which this fixture generator deliberately does NOT keep unique;
    * range/accepted-values/ref-integrity each pair a passing rule with
    * a failing one (quantity ∈ [1,10]; linestatus = 'O' only; parts
    * restricted to even keys → ~30k orphans). All metrics are int64
    * counts, all verdicts cross-multiplied integer comparisons — the
    * oracle replays every count and boolean.
    */
  def q138(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Validate._
    val li = t(s, dir)("lineitem")
    val ords = t(s, dir)("orders")
    val docs = t(s, dir)("documents").withColumn("text_sparse",
      when(col("doc_id") % 13 === 0, lit(null).cast("string"))
        .otherwise(col("text")))
    graft.ops.Validate.report(li, Seq(
        Completeness("li_qty_complete", "l_quantity"),
        Uniqueness("li_key_unique", Seq("l_orderkey", "l_linenumber")),
        InRange("li_qty_1_50", "l_quantity", 1, 50),
        InRange("li_qty_1_10", "l_quantity", 1, 10),
        AcceptedValues("li_flag_ran", "l_returnflag", Seq("R", "A", "N")),
        AcceptedValues("li_status_o", "l_linestatus", Seq("O")),
        SizeBetween("li_size_band", 1L, 10000000L),
        RefIntegrity("li_orders_fk", "l_orderkey", ords, "o_orderkey"),
        RefIntegrity("li_even_parts_fk", "l_partkey",
          t(s, dir)("part").filter(col("p_partkey") % 2 === 0),
          "p_partkey")))
      .unionByName(graft.ops.Validate.report(ords, Seq(
        Uniqueness("ord_key_unique", Seq("o_orderkey")))))
      .unionByName(graft.ops.Validate.report(docs, Seq(
        Completeness("doc_text_90", "text_sparse", 9L, 10L),
        Completeness("doc_text_95", "text_sparse", 19L, 20L))))
  }

  /** HTML → text extraction ([[TextOps.htmlToText]]): the corpus is
    * wrapped in deterministically planted HTML exercising every
    * contract branch — script/style elements with `<`-operators and
    * newlines INSIDE (content must vanish, not re-open tag parsing; a
    * 1-in-7 branch omits the script so the absent case runs too),
    * comments holding tag-looking text, `<br>` + block closers that
    * must become line breaks (1-in-5 branch), inline tags that must
    * NOT split words, double-escaped `&amp;lt;` that must decode to
    * the literal text `&lt;` (never `<`), and `&nbsp;`/`&quot;`/
    * `&#39;` entities. The oracle rebuilds the same HTML and replays
    * the 7-step chain with RE2 regexes + literal replaces.
    */
  def q139(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val html = concat(
      lit("<html><head><title>D"), id,
      lit("</title><style type=\"text/css\">p { color: red; }\n.x{}</style>"),
      when(id % 7 =!= 0, concat(
        lit("<script>var x = 1 < 2 && doc > 0; //"), id,
        lit("\n</script>"))).otherwise(lit("")),
      lit("</head><body><h1>Doc "), id,
      lit("</h1><!-- comment & <p>not text</p> -->"),
      lit("<p>"), substring(col("text"), 1, 80),
      when(id % 5 === 0, lit("<br>line&nbsp;two")).otherwise(lit("")),
      lit("</p><ul><li>&amp;lt;escaped&gt;</li><li>&quot;q&#39;s&quot;</li></ul>"),
      lit("<div><a href=\"http://x/"), id,
      lit("\">link text</a></div></body></html>"))
    t(s, dir)("documents")
      .select(id, TextOps.htmlToText(html).as("clean_text"))
      .withColumn("n_lines", size(split(col("clean_text"), "\n")))
  }

  /** SCD2 intervalization ([[graft.ops.Snapshot.scdIntervals]]) over a
    * 5-wave planted change history extending q134's feed: base v0,
    * update v1 (÷5), delete v1 (÷7 — ties with the update at ÷35,
    * delete wins, the q134 tie), insert v1 (new ids, ÷11), update v2
    * (÷10), REVIVE v3 (÷35 — reopens after the v1 delete, so those
    * timelines carry a genuine gap), delete v4 (÷21 — closes ÷105
    * ids' revived interval). Exercises: closed + open intervals,
    * tombstones closing without appearing, same-version ties, revive
    * gaps, single-interval inserts. The oracle replays the whole
    * history, the tie-rank, the lead() and the NOT-deleted cut.
    */
  def q140(s: SparkSession, dir: String): DataFrame =
    graft.ops.Snapshot.scdIntervals(q140Hist(s, dir), "doc_id")

  /** The planted change history shared by q140 (SCD2 intervalization)
    * and q194 (as-of time travel): six waves of edits, deletes, inserts
    * and revivals over the documents corpus. */
  private def q140Hist(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val id = col("doc_id")
    def wave(f: Column => Column, ver: Long, del: Boolean,
             text: Column, idExpr: Column => Column = identity) =
      docs.filter(f(id)).select(idExpr(id).as("doc_id"), col("source"),
        text.as("text"), lit(ver).as("version"), lit(del).as("deleted"))
    val base = docs.select(id, col("source"), col("text"),
      lit(0L).as("version"), lit(false).as("deleted"))
    val txt = coalesce(col("text"), lit(""))
    base
      .unionByName(wave(_ % 5 === 0, 1L, del = false,
        concat(txt, lit(" v2-edit"))))
      .unionByName(wave(_ % 7 === 0, 1L, del = true, col("text")))
      .unionByName(wave(_ % 11 === 0, 1L, del = false,
        concat(lit("fresh "), txt), _ + 1000000L))
      .unionByName(wave(_ % 10 === 0, 2L, del = false,
        concat(txt, lit(" v3-edit"))))
      .unionByName(wave(_ % 35 === 0, 3L, del = false,
        concat(lit("revived "), txt)))
      .unionByName(wave(_ % 21 === 0, 4L, del = true, col("text")))
  }

  /** Blocked edit-distance near-dup join
    * ([[graft.ops.Dedup.editDistancePairs]], maxDist = 2, blocked by
    * `source`): the short-string fuzzy matcher the shingle family
    * can't do. Titles are the whitespace-collapsed first 40 chars;
    * typo variants are planted at CHARACTER grain — a 1-in-9 arm
    * deletes the char at a doc-dependent position, a 1-in-12 arm
    * inserts an 'x' — so true distances are exactly 1, inside the
    * band, while unrelated titles sit far outside it (and truncation
    * collisions yield honest dist-0 pairs both engines agree on). The
    * oracle is the UNBLOCKED all-pairs levenshtein inside each source
    * — the hash-match is the proof the length-band candidate
    * generation lost no pair. The r16 degenerate-block cap (maxBlock
    * 1000, the CappedIdSetAgg tombstone for this family) is sized to
    * never bind at the gate SFs (~30 rows per (source, band) at
    * sf0.01, ~300 at sf0.1) and to BIND at the sf1 probe (~3000),
    * where the capped run drops the degenerate bands loudly
    * (editDistanceBlockAudit lists them) instead of going quadratic —
    * the 17.4×-at-10×-rows signature this cap exists to kill.
    */
  def q141(s: SparkSession, dir: String): DataFrame = {
    val tl = t(s, dir)("documents").select(col("doc_id"), col("source"),
      substring(regexp_replace(col("text"), "\\s+", " "), 1, 40).as("t"))
    val pDel = col("doc_id") % 15 + 2
    val pIns = col("doc_id") % 10 + 3
    val titles = tl.select(col("doc_id").as("id"), col("source"), col("t"))
      .unionByName(tl.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 500000L).as("id"), col("source"),
          concat(col("t").substr(lit(1), pDel - 1),
            col("t").substr(pDel + 1, lit(100))).as("t")))
      .unionByName(tl.filter(col("doc_id") % 12 === 0)
        .select((col("doc_id") + 800000L).as("id"), col("source"),
          concat(col("t").substr(lit(1), pIns), lit("x"),
            col("t").substr(pIns + 1, lit(100))).as("t")))
    graft.ops.Dedup.editDistancePairs(titles, "id", "t", maxDist = 2,
      blockCols = Seq("source"))
  }

  /** Equi-width histograms ([[graft.ops.Validate.histogram]]) — the
    * distribution half of the q138 profiling family, two columns in
    * one report: quantity over [5, 45)×20 populates the underflow
    * (−1) and overflow (20) bins AND the x = hi top-bin convention
    * (quantity hits 45 exactly), while totalprice over [0, 100000)×7
    * has a non-terminating step (100000/7), so the hash-match proves
    * the left-to-right IEEE double binning formula replays
    * bit-identically cross-engine — the float-determinism posture
    * behind the q110 moments, applied to bin INDICES.
    */
  /** Export manifest + integrity verify
    * ([[graft.ops.Layout.exportManifest]] /
    * [[graft.ops.Layout.verifyManifest]]): the corpus is sharded
    * (doc_id mod 8), a manifest is taken, then a TAMPERED copy — one
    * doc's text edited (shard 2: checksum + chars fail, rows + zone
    * hold) and one doc dropped (shard 7: everything fails, the zone
    * map's min moves) — is verified against it; the other six shards
    * pass every invariant, so both verdicts of all four invariants are
    * genuinely exercised. The oracle rebuilds both manifests with the
    * portable per-row fingerprint (list_reduce replay) and DuckDB's
    * own bit_xor, and replays the full-join verdicts.
    */
  def q145(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
      .withColumn("shard", pmod(col("doc_id"), lit(8L)))
    val manifest = graft.ops.Layout.exportManifest(docs, "shard",
      "doc_id", "text")
    val tampered = docs.filter(col("doc_id") =!= 7)
      .withColumn("text", when(col("doc_id") === 42,
        concat(coalesce(col("text"), lit("")), lit(" TAMPERED")))
        .otherwise(col("text")))
    graft.ops.Layout.verifyManifest(tampered, manifest, "shard",
      "doc_id", "text")
  }

  /** Zone-map pruned scan ([[graft.ops.Layout.pruneByManifest]]):
    * range-contiguous shards (doc_id div 64) give TIGHT zone maps —
    * the predicate [100, 199] intersects exactly shards 1–3 — and the
    * oracle is the PLAIN range filter with no manifest at all: the
    * hash-match is the zone-pruning soundness proof (no row lost to a
    * skipped shard), while the savings are plan-visible (the broadcast
    * semi-join against the 3-row live-shard list; spec asserts the
    * non-overlapping shards never appear). Completes q145's lifecycle:
    * manifest at export, integrity at ingest, pruning at read.
    */
  def q146(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
      .withColumn("shard", floor(col("doc_id") / 64).cast("long"))
    val manifest = graft.ops.Layout.exportManifest(docs, "shard",
      "doc_id", "text")
    graft.ops.Layout.pruneByManifest(docs, manifest, "shard", "doc_id",
        100L, 199L)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("lo_id"),
        max(col("doc_id")).as("hi_id"))
  }

  /** Schema-evolution union ([[graft.ops.Snapshot.unionEvolved]]):
    * two corpus versions with drifted schemas — v2 RETIRES `lang` and
    * ADDS a computed `n_tokens` — read as one relation; the per-version
    * presence counts prove the null-padding went to the right rows
    * (v1: every lang, zero n_tokens; v2: the reverse). The oracle
    * replays the union with explicit NULL padding and the identical
    * token count.
    */
  def q147(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents")
    val v1 = d.select(lit("v1").as("ver"), col("doc_id"), col("source"),
      col("lang"), col("text"))
    val v2 = d.select(lit("v2").as("ver"),
      (col("doc_id") + 1000000L).as("doc_id"), col("source"), col("text"),
      size(split(coalesce(col("text"), lit("")), " ")).as("n_tokens"))
    graft.ops.Snapshot.unionEvolved(Seq(v1, v2))
      .groupBy(col("ver"))
      .agg(count(lit(1)).as("n"), count(col("lang")).as("n_lang"),
        count(col("n_tokens")).as("n_tok"))
  }

  /** Temporal embargo split ([[TextOps.timeEmbargoSplit]], cut =
    * 2024-01-15T00:00Z, embargo = 2 days): the leakage-free
    * time-series split — train ≤ cut, the embargo gap kept VISIBLE as
    * its own bucket so the audit proves the gap exists, test strictly
    * after cut+embargo. Exact epoch-micros integers throughout (q34
    * posture); the per-bucket min/max are the machine-checkable
    * no-overlap evidence.
    */
  def q148(s: SparkSession, dir: String): DataFrame =
    graft.events(s, dir)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"))
      .withColumn("split", TextOps.timeEmbargoSplit(col("ts_us"),
        1705276800000000L, 172800000000L))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), min(col("ts_us")).as("min_ts_us"),
        max(col("ts_us")).as("max_ts_us"),
        countDistinct(col("user_id")).as("n_users"))

  /** The planted SFT dialogue shared by q149/q150: 2 turns per doc, a
    * 1-in-13 MALFORMED line (no role prefix — must surface as
    * `unknown`, not vanish) and a 1-in-3 second round; `concat_ws`
    * skips the NULL arms, so no phantom empty lines exist in either
    * engine.
    */
  private def plantedDialogue: Column = {
    val id = col("doc_id")
    val tx = regexp_replace(coalesce(col("text"), lit("")), "\\s+", " ")
    concat_ws("\n",
      concat(lit("User: q"), id, lit(" "), tx.substr(lit(1), lit(30))),
      concat(lit("Assistant: a"), id, lit(" "),
        tx.substr(lit(31), lit(40))),
      when(id % 13 === 0, concat(lit("system note "), id)),
      when(id % 3 === 0, lit("User: follow-up please")),
      when(id % 3 === 0, lit("Assistant: done")))
  }

  /** Dialogue turn parsing ([[TextOps.parseTurns]]) over the planted
    * SFT corpus — the turn relation every instruction-tuning step
    * consumes. The malformed 1-in-13 arm exercises the
    * `unknown`-role contract. Oracle replays the planting, the
    * split-with-ordinality, the anchored role regex and the prefix
    * strip.
    */
  def q149(s: SparkSession, dir: String): DataFrame =
    TextOps.parseTurns(
      t(s, dir)("documents").select(col("doc_id"),
        plantedDialogue.as("dlg")),
      "doc_id", "dlg")

  /** Loss-mask statistics ([[TextOps.sftLossMaskStats]]) over the
    * q149 parse: per dialogue, total and masked token counts + the
    * 4dp mask ratio — the 1-in-3 second round and 1-in-13 unknown
    * lines move the ratio, so the grid of distinct values is planted,
    * not accidental. Oracle replays parse + counts + ratio.
    */
  def q150(s: SparkSession, dir: String): DataFrame =
    TextOps.sftLossMaskStats(
      TextOps.parseTurns(
        t(s, dir)("documents").select(col("doc_id"),
          plantedDialogue.as("dlg")),
        "doc_id", "dlg"),
      "doc_id")

  /** Chat-template span table ([[TextOps.chatTemplateSpans]]) over the
    * q149 parse — the loss-mask SPAN relation a trainer consumes:
    * running token offsets per turn (marker + body + end = 2 +
    * bodyTokens), is_target on assistant turns. Oracle replays the
    * token arithmetic and the strictly-before ROWS-frame running sum.
    */
  def q151(s: SparkSession, dir: String): DataFrame =
    TextOps.chatTemplateSpans(
      TextOps.parseTurns(
        t(s, dir)("documents").select(col("doc_id"),
          plantedDialogue.as("dlg")),
        "doc_id", "dlg"),
      "doc_id")

  /** Preference-pair construction
    * ([[graft.ops.Classify.preferencePairs]]): 4-candidate pools
    * (prompt = doc_id div 4) scored by a planted small-range integer
    * (n_chars mod 7 — ties inside pools are COMMON, exercising the
    * struct tie-break), with every 10th pool forced all-equal so the
    * no-preference-no-pair branch genuinely drops pools. Oracle
    * replays the pools and the (score, id)-ordered rank-1 picks from
    * both ends.
    */
  def q152(s: SparkSession, dir: String): DataFrame = {
    val pid = expr("doc_id div 4")
    val pool = t(s, dir)("documents").select(pid.as("prompt_id"),
      col("doc_id"),
      when(pid % 10 === 0, lit(5L))
        .otherwise(pmod(col("n_chars"), lit(7L))).as("score"))
    graft.ops.Classify.preferencePairs(pool, "prompt_id", "doc_id",
      "score")
  }

  /** The q262/q263 double-annotation surface: two deterministic
    * "raters" over the documents — rater A buckets by n_chars (div
    * 200, capped at 3), rater B by the space count (div 30, capped at
    * 3) — correlated but imperfect, so agreement lands in the
    * meaningful middle where kappa actually corrects for chance; a
    * 1-in-17 arm leaves rater B NULL (unlabeled), exercising the
    * NULL-drop rule over data. Both raters are pure integer functions
    * of fixture columns, so the oracle replays them exactly. */
  private def dualAnnotated(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents").select(
      least(expr("n_chars div 200"), lit(3L)).as("rater_a"),
      when(pmod(col("doc_id"), lit(17L)) =!= 0L,
        least(expr("(length(text) - length(replace(text, ' ', '')))" +
          " div 30"), lit(3L))).as("rater_b"))

  /** Cohen's kappa over the double-annotated surface
    * ([[graft.ops.Classify.cohenKappa]]): the labeling-QA gate run
    * before trusting preference/SFT labels — chance-corrected
    * agreement in exact basis points, every division truncating, NULL
    * (unlabeled) rows dropped. The oracle replays rater derivation,
    * marginal chance product and all three basis-point divisions.
    */
  def q262(s: SparkSession, dir: String): DataFrame =
    graft.ops.Classify.cohenKappa(dualAnnotated(s, dir), "rater_a",
      "rater_b")

  /** The confusion matrix behind q262
    * ([[graft.ops.Classify.agreementConfusion]]) — the labels²-grain
    * relation an annotation lead actually reads to find WHERE raters
    * disagree (adjacent-bucket vs far-bucket confusion read very
    * differently). */
  def q263(s: SparkSession, dir: String): DataFrame =
    graft.ops.Classify.agreementConfusion(dualAnnotated(s, dir),
      "rater_a", "rater_b")

  /** Right-to-be-forgotten propagation
    * ([[graft.ops.Snapshot.forgetAudit]] / scrubForgotten): a planted
    * forget list (every 17th user) applied across TWO differently-keyed
    * relations — events by user_id, documents by a planted owner —
    * plus a third audit row over the SCRUBBED events proving the scrub
    * removed everything (n_deleted = 0, n_keys_hit = 0 afterwards).
    * The forget list names users the documents table may not have —
    * n_keys_hit vs list size is the "nothing to delete" vs "delete
    * failed" distinction the compliance log needs. Oracle replays
    * membership counts and the post-scrub re-audit.
    */
  def q154(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.events(s, dir)
      .select(col("user_id"), col("event_id"))
    val forget = ev.select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(17L)) === 0)
    val docs = t(s, dir)("documents")
      .withColumn("owner_id", pmod(col("doc_id"), lit(150L)))
    graft.ops.Snapshot.forgetAudit(ev, "user_id", forget, "user_id",
        "events")
      .unionByName(graft.ops.Snapshot.forgetAudit(docs, "owner_id",
        forget, "user_id", "documents"))
      .unionByName(graft.ops.Snapshot.forgetAudit(
        graft.ops.Snapshot.scrubForgotten(ev, "user_id", forget,
          "user_id"),
        "user_id", forget, "user_id", "events_scrubbed"))
  }

  /** Balanced class downsample ([[TextOps.balanceClasses]] on the lang
    * label): every language kept at the minority class's count (64 at
    * sf0.01 — en drops from 218), members chosen by the salted content
    * fingerprint so selection is content-keyed, engine-replayable and
    * seed-free. Oracle replays the fingerprint, the within-class rank
    * and the global min.
    */
  def q156(s: SparkSession, dir: String): DataFrame =
    TextOps.balanceClasses(
        t(s, dir)("documents").select(col("doc_id"), col("lang"),
          col("text")),
        "lang", "doc_id", "text")
      .select(col("doc_id"), col("lang"), col("rnk"))

  /** JSON dead-letter channel — the ingestion error surface every
    * pipeline needs next to q41's happy-path extraction: `from_json`
    * with an explicit corrupt-record column routes each row to
    * exactly one of three statuses — `ok`, `bad_field` (valid JSON,
    * field fails the schema type) and `malformed` (not JSON at all) —
    * and the audit keeps exact k extremes over the ok rows. Both
    * failure arms are planted (1-in-19 malformed, 1-in-23 wrong-typed
    * field) since the fixture stream is fully clean. The oracle
    * replays the routing with json_valid + try_cast.
    */
  def q157(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.events(s, dir).select(col("event_id"), col("props"))
    val planted = ev.withColumn("p",
      when(col("event_id") % 19 === 0, lit("not json {"))
        .when(col("event_id") % 23 === 0, lit("{\"k\": \"oops\"}"))
        .otherwise(col("props")))
    val parsed = planted.withColumn("j",
      from_json(col("p"), "k INT, _bad STRING",
        Map("columnNameOfCorruptRecord" -> "_bad")))
    parsed
      // PERMISSIVE routes BOTH failure kinds into the corrupt column
      // (a type-failed field corrupts the whole record) — the JSON-vs
      // -schema distinction comes from get_json_object, which parses
      // any valid JSON regardless of schema
      .withColumn("status",
        when(col("j._bad").isNull, "ok")
          .when(get_json_object(col("p"), "$").isNotNull, "bad_field")
          .otherwise("malformed"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        min(col("j.k")).cast("long").as("min_k"),
        max(col("j.k")).cast("long").as("max_k"))
  }

  /** Windowed keyed dedup ([[graft.ops.Dedup.dedupWithinWindows]],
    * 1-hour tumbling windows on (user, event_type)): the batch
    * backstop cleanStream's scaladoc promises for re-deliveries past
    * the watermark. Survivors keep their window id; the oracle replays
    * the epoch-hour division and the (ts, event_id) first-occurrence
    * rank.
    */
  def q159(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.dedupWithinWindows(
        graft.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), expr("ts_ns div 1000").as("ts_us")),
        Seq("user_id", "event_type"), "ts_us", 3600000000L, "event_id")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("win_id"))

  /** Documents with deterministically planted in-text hyperlinks —
    * the q161/q162 input: a 10-in-11 plain-`.com` link, a 1-in-3
    * userinfo+port `.co.uk` link (host extraction must strip both), a
    * 1-in-13 `github.io` link whose site number is 97–99 (multi-label
    * suffix AND a dangling graph node), and a 1-in-11 NO-link arm.
    */
  private def plantedLinkText: Column = {
    val id = col("doc_id")
    concat(coalesce(col("text"), lit("")),
      when(id % 11 =!= 0, concat(lit(" see http://www.site"),
        (id * 7 + 3) % 97, lit(".com/p/"), id)).otherwise(lit("")),
      when(id % 3 === 0, concat(lit(" and https://crawler"), id,
        lit(":tok@site"), (id * 5 + 11) % 97,
        lit(".co.uk:8443/x?a=1"))).otherwise(lit("")),
      when(id % 13 === 0, concat(lit(" plus http://site"),
        lit(97L) + id % 3, lit(".github.io/d"))).otherwise(lit("")))
  }

  /** In-text hyperlink extraction — the crawl step that turns a text
    * corpus into a LINK relation (`regexp_extract_all` + posexplode,
    * one Generate, no shuffle): the front door of the whole web-graph
    * family. The 1-in-11 no-link arm emits zero rows (absent, not
    * null). Oracle replays the planting, the extraction regex and the
    * ordinality.
    */
  def q161(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(col("doc_id"), plantedLinkText.as("txt"))
      .select(col("doc_id"),
        posexplode(regexp_extract_all(col("txt"),
          lit("(https?://\\S+)"), lit(1))).as(Seq("pos", "url")))

  /** The web-graph loop CLOSED end to end: q161's extracted links →
    * [[graft.ops.WebOps.urlHost]] (userinfo/port stripped) →
    * public-suffix registered domain → site number → distinct edge
    * relation → 3 iterations of q137's fixed-point integer PageRank.
    * Unlike q137's arithmetic edges, this graph comes out of the TEXT,
    * so the oracle replays extraction, host regex, suffix CASE, the
    * site-number parse AND the PageRank iterations — the full
    * production chain in one hash. Dangling nodes 97–99 arrive via
    * the github.io arm.
    */
  def q162(s: SparkSession, dir: String): DataFrame = {
    val links = t(s, dir)("documents")
      .select(col("doc_id"), plantedLinkText.as("txt"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("txt"),
          lit("(https?://\\S+)"), lit(1))).as("url"))
    val site = regexp_extract(
      WebOps.registeredDomain(WebOps.urlHost(col("url"))),
      "site([0-9]+)", 1)
    val edges = links.select((col("doc_id") % 97).as("src"),
      when(site =!= "", site).cast("long").as("dst"))
      .filter(col("dst").isNotNull)
    graft.ops.Graph.pageRank(edges, "src", "dst", iters = 3,
        checkpointEvery = 1)
      .select(col("node").as("domain_id"), col("outdeg"),
        col("r_scaled"))
  }

  /** k-anonymity audit ([[graft.ops.Validate.kAnonymityAudit]], k = 5)
    * over the quasi-identifier triple (source, lang, 200-char size
    * band): the re-identification screen before a dataset leaves the
    * house. The 5×5×band grid at sf0.01 leaves both verdicts heavily
    * populated. Oracle replays the grouping and the threshold.
    */
  def q165(s: SparkSession, dir: String): DataFrame =
    graft.ops.Validate.kAnonymityAudit(
      t(s, dir)("documents").select(col("source"), col("lang"),
        expr("n_chars div 200").as("size_band")),
      Seq("source", "lang", "size_band"), k = 5L)

  /** l-diversity audit ([[graft.ops.Validate.lDiversityAudit]], l = 3)
    * over quasi pair (source, 200-char size band) with `lang` as the
    * sensitive attribute — the homogeneity-attack screen on the SAME
    * release q165 k-anonymity-audits: a (source, band) cell can hold
    * dozens of rows yet one language, and linkage then discloses it.
    * With 5 langs per source most cells read diverse and the sparse
    * band tails read at-risk, so both verdicts populate. The oracle
    * replays the grouping, the distinct count and the threshold.
    */
  def q243(s: SparkSession, dir: String): DataFrame =
    graft.ops.Validate.lDiversityAudit(
      t(s, dir)("documents").select(col("source"),
        expr("n_chars div 200").as("size_band"), col("lang")),
      Seq("source", "size_band"), "lang", l = 3L)

  /** t-closeness audit ([[graft.ops.Validate.tClosenessAudit]],
    * t = 3000 bp) over the SAME release surface as q165/q243 —
    * completing the screen trio with the attack l-diversity misses: a
    * (source, band) cell can carry all five languages (l-diverse) yet
    * a skewed mix, and linkage still discloses with high confidence.
    * Exact integer total-variation distance in basis points
    * (cross-multiplied, one truncating div); at sf0.01 the thin band
    * tails skew hard and the fat cells track the global mix, so both
    * verdicts populate (22/38 at fixture scale). The oracle replays
    * cells, marginals, the absent-value closed term and the division.
    */
  def q278(s: SparkSession, dir: String): DataFrame =
    graft.ops.Validate.tClosenessAudit(
      t(s, dir)("documents").select(col("source"),
        expr("n_chars div 200").as("size_band"), col("lang")),
      Seq("source", "size_band"), "lang", tBp = 3000L)

  /** Readability statistics ([[graft.ops.TextOps.readability]]) over
    * the corpus with PLANTED sentence boundaries (the fixture text has
    * no punctuation, so `n_sents` would floor at 1 corpus-wide): plain
    * non-regex `replace` turns every 'table' into 'table.' and every
    * 'query' into 'query?' — replace-all in both engines — giving
    * docs a spread of sentence counts, word/sentence rates and
    * vowel-group syllable totals. Per-doc grain pins every count and
    * every truncating division of the milli-point Flesch formula.
    */
  def q245(s: SparkSession, dir: String): DataFrame =
    graft.ops.TextOps.readability(
      t(s, dir)("documents").select(col("doc_id"),
        expr("replace(replace(coalesce(text, ''), 'table', 'table.')," +
          " 'query', 'query?')").as("text")),
      "doc_id", "text")

  /** Compaction plan ([[graft.ops.Layout.compactionPlan]]) treating
    * each document as a small file (bytes = n_chars) partitioned by
    * source, target 3 000 bytes — the small-files remedy: the plan
    * assigns every file to a ≈target-sized rewrite group by
    * exclusive-prefix-sum striping in id order within its partition,
    * and the oracle replays the window frame, the truncating stripe
    * division and both group-grain rollups verbatim. File grain pins
    * every assignment, not just group counts.
    */
  def q246(s: SparkSession, dir: String): DataFrame =
    graft.ops.Layout.compactionPlan(
      t(s, dir)("documents").select(col("source"), col("doc_id"),
        col("n_chars")),
      "source", "doc_id", "n_chars", targetBytes = 3000L)

  /** Exact quantile normalization ([[graft.ops.Sampling
    * .quantileNormalize]]) of n_chars across sources — after it every
    * source carries the POOLED length distribution, the calibration
    * step before a shared length threshold means the same thing in
    * every source (q216 makes ranks comparable; this makes VALUES
    * comparable). The oracle replays both rank windows, the integer
    * position map and the order-statistic join. This is the exact
    * comparator half; q249 is the production sibling (the q209/q210
    * discipline).
    */
  def q248(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.quantileNormalize(
      t(s, dir)("documents").select(col("source"), col("doc_id"),
        col("n_chars")),
      "source", "n_chars", "doc_id")

  /** Binned quantile normalization ([[graft.ops.Sampling
    * .quantileNormalizeBinned]], bin width 100) — q248's production
    * sibling: pooled order statistics from one bin-grain histogram
    * instead of the global row sort, rows map to pooled-bin lower
    * edges (error ≤ one bin width). Same grouping, same fixture, so
    * the probe pair prices exactly the global-sort delta.
    */
  def q249(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.quantileNormalizeBinned(
      t(s, dir)("documents").select(col("source"), col("doc_id"),
        col("n_chars")),
      "source", "n_chars", "doc_id", binWidth = 100L)

  /** Market-basket co-occurrence ([[graft.ops.Graph.cooccurrence]])
    * of parts within orders, basket cap 6 — TPC-H orders carry 1–7
    * lineitems, so the cap genuinely drops the 7-item tail (q251
    * audits exactly those) while the kept baskets project onto
    * canonical part pairs. Pair grain pins the cap, the dedup, the
    * i<j orientation and every count; the oracle replays the whole
    * pipeline naively.
    */
  def q250(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.cooccurrence(
      t(s, dir)("lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", maxBasket = 6)

  /** The loud twin ([[graft.ops.Graph.cooccurrenceAudit]]): every
    * order the q250 cap dropped, with its distinct-part size — the
    * relation an operator alerts on before raising the cap. */
  def q251(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.cooccurrenceAudit(
      t(s, dir)("lineitem").select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", maxBasket = 6)

  /** EXACT set-similarity self-join by prefix filtering
    * ([[graft.ops.Dedup.jaccardJoin]], bigram shingles, t = 0.90,
    * posting cap 500 — 5× fixture headroom, inactive here) — the
    * deterministic complement to q23's MinHash-LSH: same corpus, same
    * similarity, but the output is the COMPLETE pair set, proven by
    * the oracle running the NAIVE all-pairs join — hash equality IS
    * the prefix-filter completeness theorem (Chaudhuri ICDE'06 /
    * Xiao WWW'08) verified over data. At t = 0.9 each ~25-shingle doc
    * posts only its 3–4 rarest shingles, collapsing 125 k naive pairs
    * to ≤ 21 k candidates before the exact verify; integer basis
    * points end to end so the threshold boundary replays bit-exactly.
    */
  def q253(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.jaccardJoin(
      t(s, dir)("documents").select(col("doc_id"),
        TextOps.shingles(col("text"), 2).as("sh")),
      "doc_id", "sh", thresholdBp = 9000L, maxPosting = 500)

  /** The loud twin ([[graft.ops.Dedup.jaccardJoinAudit]]) at cap 18,
    * which the fixture's common-shingle postings DO exceed — the
    * relation an operator alerts on before raising q253's cap. The
    * oracle re-derives the per-doc (df ASC, token ASC) prefix rule
    * itself, so the hash ALSO pins the prefix derivation — q253 then
    * proves completeness, this proves the filter is exactly the
    * published one.
    */
  def q254(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.jaccardJoinAudit(
      t(s, dir)("documents").select(col("doc_id"),
        TextOps.shingles(col("text"), 2).as("sh")),
      "doc_id", "sh", thresholdBp = 9000L, maxPosting = 18)

  /** EXACT containment join ([[graft.ops.Dedup.containmentJoin]],
    * bigram shingles, t = 0.85, cap 64) — q253's ASYMMETRIC sibling:
    * pairs where one doc's shingle set sits ≥ 85% inside another's,
    * the quote/boilerplate-reuse screen Jaccard misses (the fixture's
    * short-doc-inside-long-doc pairs appear HERE and not in q253).
    * The oracle is the naive all-ordered-pairs intersection join —
    * hash equality is the containment-prefix completeness theorem
    * over data. Cap 64 clears the fixture's max bigram df of 46, so
    * nothing drops at gate scale (fixture-bound sizing, the q227
    * posture — at sf1 the postings side caps by design and q265 is
    * the screen that says so).
    */
  def q264(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.containmentJoin(
      t(s, dir)("documents").select(col("doc_id"),
        TextOps.shingles(col("text"), 2).as("sh")),
      "doc_id", "sh", thresholdBp = 8500L, maxPosting = 64)

  /** The loud twin ([[graft.ops.Dedup.containmentJoinAudit]]) at cap
    * 24, which the fixture's common shingles DO exceed on the
    * full-postings side — both sides re-derived by the oracle, so the
    * hash pins the prefix rule AND the side attribution. */
  def q265(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.containmentJoinAudit(
      t(s, dir)("documents").select(col("doc_id"),
        TextOps.shingles(col("text"), 2).as("sh")),
      "doc_id", "sh", thresholdBp = 8500L, maxPosting = 24)

  /** The q258/q259 planted image corpus: one REAL 16×16 grayscale PNG
    * per document, pixel(i) = (base·31 + i·17 + i²·7 + base·i·13
    * + (base div 256)·i²·11) mod 256 with base = doc_id div 2 —
    * consecutive ids are SIBLINGS sharing a base pattern, the base·i
    * cross-term decorrelates DIFFERENT bases (without it every image
    * is the same pattern up to brightness, which the mean-relative
    * hash ignores — the whole corpus collides), and the (base div
    * 256) second-digit term keeps that true past 256 bases: a
    * polynomial in base taken mod 256 depends on base mod 256 ONLY,
    * so without it the sf1 corpus (25k bases) degenerates into ~100
    * identical images per residue class — fixture entropy is
    * explicitly base mod 2¹⁶, documented ahead of any larger SF.
    * Odd ids get one pixel bumped +3 mod 256 (a near-duplicate
    * perturbation: usually 0–1 hash bits move, and the mod-256
    * wraparound occasionally flips more — both regimes real).
    * Encoded with the real `javax.imageio` PNG writer on the
    * executors; PNG is lossless, so the decode side recovers these
    * exact pixels and an arithmetic oracle can meet it. */
  private def plantedPngs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir)("documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val base = id / 2
          val bump = (base % 256).toInt
          val px = Array.tabulate(256) { i =>
            val p0 = ((base * 31 + i.toLong * 17 + i.toLong * i * 7 +
              base * i * 13 + (base / 256) * i * i * 11) % 256).toInt
            if (id % 2 == 1 && i == bump) (p0 + 3) % 256 else p0
          }
          (id, graft.ops.Multimodal.encodeGrayPng(px, 16, 16))
        }
      }.toDF("media_id", "content")
  }

  /** REAL full-raster image decode + perceptual hash, gated
    * ([[graft.ops.Multimodal.averageHash]]): q231 gated HEADER decode;
    * this gates CONTENT decode — every document's planted PNG goes
    * through the real `ImageIO.read` raster path on the executor and
    * comes back as the 64-bit integer aHash (32-bit halves, the
    * signed-int64 dodge), and the oracle replays the pixel-planting
    * rule, the 2×2 integer box-filter, the truncating mean and the
    * bit assembly in pure SQL arithmetic. Agreement means the real
    * encoder and the real decoder round-tripped 128 000 pixels
    * bit-exactly AND the hash arithmetic matches cell by cell — the
    * multimodal family's strongest gate.
    */
  def q258(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.averageHash(plantedPngs(s, dir))
      .select(col("media_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("ahash_hi"), col("ahash_lo"))

  /** Perceptual near-dup pairs over the q258 hashes ([[graft.ops
    * .Multimodal.hammingNearDup]], Hamming ≤ 3, four 16-bit bands —
    * pigeonhole-complete at this radius): the planted siblings (2k,
    * 2k+1) land within 0–1 bits except where the mod-256 wraparound
    * kicks them out, and unrelated patterns sit ~32 bits apart, so the
    * output is exactly the surviving sibling set — and the oracle
    * proves it by brute force: recompute every hash from the planting
    * rule and join ALL pairs at bit_count(xor) ≤ 3. Hash equality =
    * the banding lost nothing (the q253 completeness posture on
    * pixels).
    */
  def q259(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.hammingNearDup(
      graft.ops.Multimodal.averageHash(plantedPngs(s, dir)),
      "media_id", "ahash_hi", "ahash_lo", maxDist = 3, maxBucket = 100)

  /** The q260/q261 planted audio corpus — the q258 scheme on sound: one
    * REAL 256-sample 8 kHz 16-bit PCM WAV per document, sample(i) =
    * (base·37 + i·13 + i²·3 + base·i·7 + (base div 2001)·i·19)
    * mod 2001 − 1000 with base = doc_id div 2 (range ±1000, well
    * inside 16-bit; the base·i cross-term decorrelates bases and the
    * (base div 2001) second-digit term keeps that true past 2001
    * bases — the plantedPngs lesson: a base-polynomial mod m depends
    * on base mod m only, so fixture entropy is explicitly base mod
    * 2001², documented ahead of any larger SF). Consecutive ids are
    * SIBLINGS; odd ids get one sample bumped +50 inside the mod
    * (usually 0–1 fingerprint bits move; the mod-2001 wraparound
    * occasionally flips more — both regimes real). Written with the
    * real RIFF encoder on the executors; PCM is raw storage, so the
    * real `javax.sound` decode recovers these exact integers and the
    * oracle meets it. */
  private def plantedWavs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir)("documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val base = id / 2
          val bump = (base % 256).toInt
          val smp = Array.tabulate(256) { i =>
            val x = base * 37 + i.toLong * 13 + i.toLong * i * 3 +
              base * i * 7 + (base / 2001) * i * 19
            val y = if (id % 2 == 1 && i == bump) x + 50 else x
            (y % 2001).toInt - 1000
          }
          (id, graft.ops.Multimodal.encodePcmWav(smp, 8000))
        }
      }.toDF("media_id", "content")
  }

  /** REAL full-sample audio decode + energy fingerprint, gated
    * ([[graft.ops.Multimodal.audioEnergyHash]]): q233 gated the WAV
    * HEADER; this gates CONTENT — every document's planted PCM goes
    * through the real `javax.sound` AudioInputStream on the executor
    * and comes back as the 64-frame integer energy hash, and the
    * oracle replays the sample-planting rule, the 4-sample frame
    * energies, the truncating mean and the bit assembly in pure SQL.
    * Agreement means encoder and decoder round-tripped 128 000 PCM
    * samples bit-exactly AND the fingerprint arithmetic matches frame
    * by frame — the audio twin of q258.
    */
  def q260(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.audioEnergyHash(plantedWavs(s, dir))
      .select(col("media_id"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples").cast("long").as("n_samples"),
        col("fp_hi"), col("fp_lo"))

  /** Perceptual near-dup pairs over the q260 audio fingerprints — the
    * SAME [[graft.ops.Multimodal.hammingNearDup]] banded join the image
    * family uses (one pair generator for every 64-bit media
    * fingerprint): planted siblings land within the radius except
    * where the mod-2001 wraparound kicks them out, and the oracle
    * proves banding completeness by brute force over the replayed
    * hashes (the q259 posture on sound).
    */
  def q261(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.hammingNearDup(
      graft.ops.Multimodal.audioEnergyHash(plantedWavs(s, dir)),
      "media_id", "fp_hi", "fp_lo", maxDist = 3, maxBucket = 100)

  /** End-to-end IMAGE DEDUP — the multimodal family's capstone
    * composition, every stage already gated alone: real raster decode
    * + aHash (q258) → banded Hamming pairs (q259) →
    * [[graft.ops.Dedup.dupClusters]] star-contraction components (the
    * q46 engine) → canonical survivor = min media_id per component,
    * singletons self-canonical. One relation answers the only
    * question a dedup pass exists to answer: per image, KEEP or point
    * at whom. The oracle replays hashes arithmetically, brute-forces
    * the pair graph, walks components with a recursive CTE and takes
    * the same min — agreement pins the WHOLE pipeline, including that
    * banding and star-contraction lost nothing between the stages.
    */
  def q266(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Multimodal.hammingNearDup(
        graft.ops.Multimodal.averageHash(plantedPngs(s, dir)),
        "media_id", "ahash_hi", "ahash_lo", maxDist = 3, maxBucket = 100)
      .select(col("id_a").as("a_id"), col("id_b").as("b_id"))
    val clusters = graft.ops.Dedup.dupClusters(pairs,
      starContraction = true)
    // the survivor join needs only the id universe — documents grain,
    // NOT plantedPngs (whose opaque mapPartitions would re-encode 50k
    // PNGs to project one column)
    t(s, dir)("documents").select(col("doc_id").as("media_id"))
      .join(clusters.select(col("id").as("media_id"),
        col("cluster")), Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("cluster"), col("media_id")).as("canonical_id"))
      .withColumn("is_kept", (col("media_id") === col("canonical_id"))
        .cast("boolean"))
  }

  /** The q270 stored media-fingerprint index: fit ONCE per (session,
    * sfDir) on the base slice of the planted PNG corpus (doc_id % 10
    * ≠ 0), written through the real save/load round-trip so the gate
    * proves the STORED form answers (the q102/q208/q232 fit-once
    * posture). */
  private def storedFpIndex(s: SparkSession,
                            dir: String): graft.ops.Multimodal.FingerprintIndex =
    graft.SessionMemo(s, "fp-index", dir) {
      val path = graft.SessionMemo.tempDir("graft-fp-index-")
      graft.ops.Multimodal.buildFingerprintIndex(
        plantedPngs(s, dir).filter(pmod(col("media_id"), lit(10L)) =!= 0L))
        .save(path)
      graft.ops.Multimodal.loadFingerprintIndex(s, path)
    }

  /** Batch-vs-base media near-dup over the STORED fingerprint index
    * ([[graft.ops.Multimodal.crossNearDupMedia]]): the base slice of
    * the planted image corpus decoded and hashed ONCE into a saved
    * [[graft.ops.Multimodal.FingerprintIndex]], then the arriving
    * batch (doc_id % 10 = 0 — whose odd-id SIBLINGS live in the base)
    * pays only its own decode and band-joins the stored 20-byte rows.
    * The oracle replays both slices' hashes arithmetically and
    * brute-forces the batch × base Hamming join — equality proves the
    * save/load round-trip, the cross banding's completeness AND the
    * batch/base split discipline in one hash. The per-batch-cost
    * claim is the probe's: the stored side never re-decodes.
    */
  def q270(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.crossNearDupMedia(
      plantedPngs(s, dir)
        .filter(pmod(col("media_id"), lit(10L)) === 0L),
      storedFpIndex(s, dir),
      maxDist = 3, maxBucket = 100)

  /** The q273/q274 planted video corpus — the q258 planting discipline
    * on MOVING pictures: one 8-frame "video" per document, each frame a
    * raw 16×16 row-major gray raster (256 bytes; 2048 bytes per blob,
    * `kind = "video"`), pixel(f, i) = (base·31 + f·41 + i·17 + i²·7
    * + base·i·13 + f·i·5 + (base div 256)·i²·11) mod 256 with base =
    * doc_id div 2. The base·i cross-term decorrelates bases, the
    * (base div 256) second-digit term keeps that true past 256 bases
    * (the plantedPngs lesson — fixture entropy is explicitly base mod
    * 2¹⁶), and the NEW f·41 + f·i·5 terms decorrelate FRAMES within a
    * video so the majority vote has real per-frame variation to vote
    * over. Consecutive ids are SIBLINGS; odd ids get the same pixel
    * index bumped +3 mod 256 in EVERY frame (per-frame the usual 0–1
    * hash bits move; the majority vote then flips exactly the bits
    * where the vote was marginal — usually 0–2 fingerprint bits, the
    * wraparound occasionally more, both regimes real). Raw raster is
    * storage, not codec — the decode side recovers these exact bytes
    * and a pure-arithmetic oracle can meet it.
    */
  private def plantedVideos(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir)("documents").select(col("doc_id")).as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val base = id / 2
          val bump = (base % 256).toInt
          val bytes = new Array[Byte](8 * 256)
          var f = 0
          while (f < 8) {
            var i = 0
            while (i < 256) {
              val p0 = ((base * 31 + f.toLong * 41 + i.toLong * 17 +
                i.toLong * i * 7 + base * i * 13 + f.toLong * i * 5 +
                (base / 256) * i * i * 11) % 256).toInt
              val p = if (id % 2 == 1 && i == bump) (p0 + 3) % 256 else p0
              bytes(f * 256 + i) = p.toByte
              i += 1
            }
            f += 1
          }
          (id, "video", bytes)
        }
      }.toDF("media_id", "kind", "content")
  }

  /** VIDEO content fingerprint, gated ([[graft.ops.Multimodal
    * .videoFingerprint]] — r17 verdict #1: q235 gated the MP4 header
    * and [[graft.ops.Multimodal.sampleFrames]] sliced frames, but no
    * content-grain video gate existed while image q258 and audio q260
    * both did): every other 256-byte frame of each planted video
    * (frames 0, 2, 4, 6) is interpreted as a 16×16 gray raster, hashed
    * with the SAME integer aHash the image family gates, and the four
    * frame hashes reduce to one 64-bit fingerprint by strict per-bit
    * majority. The oracle replays the pixel-planting rule, the 2×2
    * box filter, the per-frame truncating mean, the bit votes and the
    * majority assembly in pure SQL arithmetic — agreement pins the
    * frame slicing (substring grid), the per-frame hash and the vote
    * reduction in one hash.
    */
  def q273(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.videoFingerprint(plantedVideos(s, dir),
      w = 16, h = 16, every = 2)

  /** Perceptual near-dup pairs over the q273 video fingerprints — the
    * SAME [[graft.ops.Multimodal.hammingNearDup]] banded join images
    * (q259) and audio (q261) use, completing the one-pair-generator-
    * for-every-modality design: planted sibling videos land within
    * the radius except where the mod-256 wraparound moves a majority,
    * and the oracle proves banding completeness by brute force over
    * the replayed fingerprints (the q259 posture at video grain).
    */
  def q274(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.hammingNearDup(
      graft.ops.Multimodal.videoFingerprint(plantedVideos(s, dir),
        w = 16, h = 16, every = 2),
      "media_id", "vfp_hi", "vfp_lo", maxDist = 3, maxBucket = 100)

  /** End-to-end VIDEO DEDUP — the q266 capstone composition at the
    * video grain, closing the modality symmetrically (image q266 has
    * one, audio shares every stage): frame slicing + per-frame aHash +
    * majority vote (q273) → banded Hamming pairs (q274) →
    * [[graft.ops.Dedup.dupClusters]] star-contraction components →
    * canonical survivor = min media_id per component, singletons
    * self-canonical. The oracle replays the vote fingerprints
    * arithmetically, brute-forces the pair graph, walks components
    * with a recursive CTE and takes the same min — the whole
    * slice→hash→vote→band→contract pipeline pinned end-to-end by one
    * hash.
    */
  def q279(s: SparkSession, dir: String): DataFrame = {
    val pairs = graft.ops.Multimodal.hammingNearDup(
        graft.ops.Multimodal.videoFingerprint(plantedVideos(s, dir),
          w = 16, h = 16, every = 2),
        "media_id", "vfp_hi", "vfp_lo", maxDist = 3, maxBucket = 100)
      .select(col("id_a").as("a_id"), col("id_b").as("b_id"))
    val clusters = graft.ops.Dedup.dupClusters(pairs,
      starContraction = true)
    // survivor join over the id universe at documents grain — never
    // plantedVideos (whose opaque mapPartitions would re-encode every
    // blob to project one column; the q266 lesson)
    t(s, dir)("documents").select(col("doc_id").as("media_id"))
      .join(clusters.select(col("id").as("media_id"),
        col("cluster")), Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("cluster"), col("media_id")).as("canonical_id"))
      .withColumn("is_kept", (col("media_id") === col("canonical_id"))
        .cast("boolean"))
  }

  /** The q277 stored Jaccard prefix index: fit ONCE per (session,
    * sfDir) on the base slice (doc_id % 10 ≠ 0) of the bigram-shingled
    * documents at t = 8000 bp, written through the real save/load
    * round-trip so the gate proves the STORED form answers (the
    * q102/q208/q270 fit-once posture). */
  private def storedJacIndex(s: SparkSession,
                             dir: String): graft.ops.Dedup.JaccardIndex =
    graft.SessionMemo(s, "jac-index", dir) {
      val path = graft.SessionMemo.tempDir("graft-jac-index-")
      graft.ops.Dedup.buildJaccardIndex(
        t(s, dir)("documents")
          .filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
          .select(col("doc_id"), TextOps.shingles(col("text"), 2).as("sh")),
        "doc_id", "sh", thresholdBp = 8000L)
        .save(path)
      graft.ops.Dedup.loadJaccardIndex(s, path)
    }

  /** Batch-vs-base EXACT Jaccard join over the STORED prefix index
    * ([[graft.ops.Dedup.crossJaccardJoin]] — r17 verdict #3: the
    * exact set-similarity family was the one stored-artifact hole, so
    * every ingest-door decontamination call re-paid the corpus df
    * aggregate): the base slice's shingle sets, df ordering and
    * prefix postings fitted ONCE at 8000 bp into a saved
    * [[graft.ops.Dedup.JaccardIndex]], then the arriving batch
    * (doc_id % 10 = 0) shingles itself, computes its prefixes under
    * the PINNED stored ordering, and probes at the STRICTER 9000 bp —
    * exercising the fit-once-probe-tighter contract (stored prefixes
    * are supersets of what any t' ≥ t needs). The oracle brute-forces
    * every batch × base pair with exact integer Jaccard — hash
    * equality is the cross-prefix completeness theorem AND the
    * save/load round-trip in one gate. Cap 1000 clears the fixture's
    * posting profile, so nothing drops at gate scale (the q264
    * fixture-bound sizing; at drifted corpora [[graft.ops.Dedup
    * .crossJaccardAudit]] is the screen).
    */
  def q277(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.crossJaccardJoin(
      t(s, dir)("documents")
        .filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .select(col("doc_id"), TextOps.shingles(col("text"), 2).as("sh")),
      storedJacIndex(s, dir),
      "doc_id", "sh", thresholdBp = 9000L, maxPosting = 1000)

  /** Batch-vs-base EXACT containment over the SAME stored index
    * ([[graft.ops.Dedup.crossContainmentJoin]] — the q277 artifact
    * answering the OTHER exact question at the door: "is this
    * arriving doc ≥ 85% inside something the base already holds").
    * The stored FULL postings — kept precisely because containment
    * admits no right-prefix — join the batch's containment prefixes
    * computed under the pinned ordering; the probe threshold is FREE
    * of the fit threshold (left-prefix completeness is one-sided).
    * The oracle brute-forces every batch × base ordered pair with
    * exact integer containment — completeness + storage in one hash,
    * the q277 posture on the asymmetric screen.
    */
  def q283(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.crossContainmentJoin(
      t(s, dir)("documents")
        .filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .select(col("doc_id"), TextOps.shingles(col("text"), 2).as("sh")),
      storedJacIndex(s, dir),
      "doc_id", "sh", thresholdBp = 8500L, maxPosting = 1000)

  /** Per-doc novelty of the arriving batch against the STORED base
    * vocabulary ([[graft.ops.Dedup.noveltyScore]] — the q277/q283
    * artifact's third door: where those answer "which base doc am I a
    * near-copy of", this answers the cheaper routing question "how
    * much of me has the base simply never seen"). Batch docs are
    * near-dups of base siblings, so their shingle sets are almost
    * fully covered — low novelty — and the integer division boundary
    * is exercised by the partial-coverage tail. The oracle replays
    * the base-vocabulary distinct and the per-doc count split.
    */
  def q284(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.noveltyScore(
      t(s, dir)("documents")
        .filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .select(col("doc_id"), TextOps.shingles(col("text"), 2).as("sh")),
      storedJacIndex(s, dir),
      "doc_id", "sh")

  /** The q286 stored SEMANTIC index: [[Similarity.fitIvf]] (auto-sized
    * nlist) over the base slice (vec_id % 5 ≠ 0) of the embeddings
    * table, written through the real save/load round-trip ONCE per
    * (session, sfDir) — the storedJacIndex discipline applied to the
    * semantic door's coarse quantizer. */
  private def storedEmbIvf(s: SparkSession, dir: String): Similarity.IvfIndex =
    graft.SessionMemo(s, "emb-ivf", dir) {
      val path = graft.SessionMemo.tempDir("graft-emb-ivf-")
      Similarity.fitIvf(
        t(s, dir)("embeddings").filter(col("vec_id") % 5 =!= 0L)).save(path)
      Similarity.loadIvf(s, path)
    }

  /** The q286/q287 arriving batch: the held-out slice (vec_id % 5 = 0 —
    * genuinely new vectors, nothing semantically close in the base)
    * UNION planted EXACT clones of base rows (vec_id % 7 = 0 ∧ % 5 ≠ 0,
    * re-tagged +10000 into a disjoint id namespace) — the re-crawl
    * shape: most arrivals are new, some are literal re-fetches of
    * corpus content the door must catch. */
  private def embBatch(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir)("embeddings")
    e.filter(col("vec_id") % 5 === 0L)
      .select(col("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") % 7 === 0L &&
          col("vec_id") % 5 =!= 0L)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")))
  }

  /** SemDeDup at the ingest door over the STORED IVF index
    * ([[Similarity.crossSemanticPairs]] — r18 verdict #1: every other
    * dedup family had its stored door while SemDeDup re-paid a
    * within-corpus fit per batch): the base slice's coarse quantizer
    * and inverted file fitted once into a saved
    * [[Similarity.IvfIndex]], then the arriving batch routes itself
    * through the stored centroids (two probes, batch-linear) and
    * exact cosine verifies candidates only. The planted clones make
    * completeness STRUCTURAL at 0.95 — an exact clone's nearest cell
    * is its sibling's assigned cell — so the oracle brute-forces every
    * batch × base pair in DuckDB (the q64/q277 posture: cell-routing
    * completeness AND the save/load round-trip in one hash), while the
    * held-out arrivals exercise the no-match path (corpus max
    * cross-cosine ≈ 0.51, far under threshold).
    */
  def q286(s: SparkSession, dir: String): DataFrame =
    Similarity.crossSemanticPairs(embBatch(s, dir), storedEmbIvf(s, dir),
      threshold = 0.95)

  /** The semantic door's cap conservation law ([[Similarity
    * .crossSemanticAudit]] — the q254/q265 audit-twin posture where
    * the generator itself is SQL-replayable; here the k-means cells
    * are not, so the law self-gates in-engine (the q87 posture) and
    * the oracle pins the replayable anchor): at maxCell = 3 nearly
    * every inverted-file cell tombstones (audit_fired), and the capped
    * door's pairs plus the uncapped pairs whose base row sits in an
    * audited cell EXACTLY partition the uncapped pairs — nothing
    * silently lost, nothing double-reported (conservation_ok, verified
    * by exceptAll/intersect in-engine). n_pairs — the uncapped door's
    * output, structurally complete on this fixture — is re-derived by
    * DuckDB's all-pairs cross-cosine.
    */
  def q287(s: SparkSession, dir: String): DataFrame = {
    val idx = storedEmbIvf(s, dir)
    val batch = embBatch(s, dir)
    val cap = 3
    val uncapped = Similarity.crossSemanticPairs(batch, idx, 0.95)
    val capped = Similarity.crossSemanticPairs(batch, idx, 0.95,
      maxCell = cap)
    val audit = Similarity.crossSemanticAudit(idx, cap)
    val droppedPairs = uncapped
      .join(idx.assigned.select(col("id").as("base_id"), col("cluster")),
        Seq("base_id"))
      .join(audit.select(col("cluster")), Seq("cluster"), "left_semi")
      .select(col("new_id"), col("base_id"), col("sim"))
    val recombined = capped.unionByName(droppedPairs)
    uncapped.agg(count(lit(1)).as("n_pairs"))
      .crossJoin(audit.agg(count(lit(1)).as("na")))
      .crossJoin(uncapped.exceptAll(recombined)
        .agg(count(lit(1)).as("m1")))
      .crossJoin(recombined.exceptAll(uncapped)
        .agg(count(lit(1)).as("m2")))
      .crossJoin(capped.intersect(droppedPairs)
        .agg(count(lit(1)).as("m3")))
      .select(col("n_pairs"), (col("na") > 0).as("audit_fired"),
        (col("m1") === 0 && col("m2") === 0 && col("m3") === 0)
          .as("conservation_ok"))
  }

  /** The exact-Jaccard door over the SHRUNK stored index
    * ([[graft.ops.Dedup.JaccardIndex.remove]] — r18 verdict #3, the
    * delete path every stored artifact was missing): the q277 stored
    * index RETRACTS its doc_id % 3 = 0 base slice (lazy anti-join
    * tombstones — save() would be the merge-time compaction), then the
    * same batch probes at 9000 bp. Two of q277's six pairs die with
    * their retracted base docs (447, 393), four survive untouched —
    * the oracle brute-forces batch × SURVIVING base, so retraction
    * completeness (nothing stale answers) AND retraction minimality
    * (nothing else disappears) pin in one hash.
    */
  def q288(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents")
    Dedup.crossJaccardJoin(
      d.filter(pmod(col("doc_id"), lit(10L)) === 0L)
        .select(col("doc_id"), TextOps.shingles(col("text"), 2).as("sh")),
      storedJacIndex(s, dir)
        .remove(d.filter(col("doc_id") % 10 =!= 0 &&
          col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id"),
      "doc_id", "sh", thresholdBp = 9000L, maxPosting = 1000)
  }

  /** The delete path's phantom screen
    * ([[graft.ops.Dedup.JaccardIndex.removeAudit]] — the
    * bagDeltaAudit posture on the index lifecycle): the retraction
    * set deliberately carries ids the index never held — the whole
    * batch slice (doc_id % 10 = 0, never fitted) riding along with
    * the real base retractions — and the audit lists exactly those
    * from the same relation the remove filters. The oracle replays
    * membership: fitted = non-empty bigram sets on the base slice;
    * phantoms = the retraction set minus fitted (which also catches
    * any base doc too short to shingle — absent from the index by
    * the normTokenSets contract, so removing it IS a phantom).
    */
  def q289(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents")
    val retractions = d.filter((col("doc_id") % 10 =!= 0 &&
        col("doc_id") % 3 === 0) || col("doc_id") % 10 === 0)
      .select(col("doc_id"))
    storedJacIndex(s, dir)
      .removeAudit(retractions, "doc_id")
  }

  /** End-to-end SEMANTIC dedup — the capstone composition on the
    * embedding modality, closing the capstone symmetry (image q266,
    * video q279, records q285, now vectors): planted exact clones
    * (vec_id % 7 = 0 re-tagged +10⁴) union the corpus,
    * [[Similarity.semanticPairs]] finds the clone pairs at 0.95
    * (structural completeness — a clone and its sibling route to the
    * same cells under the SAME quantizer, the q286 argument applied
    * within-corpus), [[graft.ops.Dedup.dupClusters]] star-contracts
    * them, canonical survivor = min vec_id, singletons self-canonical.
    * Per vector, KEEP or point-at-whom — SemDeDup's drop decision as
    * one relation. The oracle replays the planting, brute-force
    * all-pairs cosine, recursive-CTE components and the same min, so
    * clustering AND contraction losing nothing between stages pins in
    * one hash.
    */
  def q292(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir)("embeddings")
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(e.filter(col("vec_id") % 7 === 0)
        .select((col("vec_id") + 10000L).as("vec_id"), col("embedding")))
    val pairs = Similarity.semanticPairs(corpus, threshold = 0.95)
      .select(col("a_id"), col("b_id"))
    val clusters = graft.ops.Dedup.dupClusters(pairs,
      starContraction = true)
    corpus.select(col("vec_id"))
      .join(clusters.select(col("id").as("vec_id"), col("cluster")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster"), col("vec_id")).as("canonical_id"))
      .withColumn("is_kept", (col("vec_id") === col("canonical_id"))
        .cast("boolean"))
  }

  /** The semantic door over the SHRUNK stored IVF index
    * ([[Similarity.IvfIndex.remove]] — the q288 retraction gate on the
    * SECOND stored family, so the delete path is oracle-gated on both
    * posting-shaped and inverted-file-shaped artifacts): the q286
    * stored index retracts its vec_id % 3 = 0 base slice (lazy
    * anti-join on the inverted file, centroids frozen), then the same
    * batch probes at 0.95. 19 of q286's 57 clone pairs die with their
    * retracted base vectors, 38 survive — the oracle brute-forces
    * batch × SURVIVING base, retraction completeness + minimality in
    * one hash.
    */
  def q294(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir)("embeddings")
    Similarity.crossSemanticPairs(embBatch(s, dir),
      storedEmbIvf(s, dir).remove(
        e.filter(col("vec_id") % 5 =!= 0L && col("vec_id") % 3 === 0L)
          .select(col("vec_id")), "vec_id"),
      threshold = 0.95)
  }

  /** The LSH near-dup door over the SHRUNK band index
    * ([[Dedup.CorpusIndex.remove]] — the retraction gate on the THIRD
    * stored family, the bucket-thinning shape: live buckets explode,
    * anti-join, regroup; emptied buckets drop like a rebuild's): the
    * q64 base slice's index retracts its doc_id % 3 = 0 docs, then the
    * same arriving batch probes at 0.5. Eight of q64's twelve pairs
    * die with their retracted base docs, four survive — the oracle
    * replays exact Jaccard over batch × SURVIVING base.
    */
  def q295(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val base = docs.filter(length(col("source")) <= 4)
    Dedup.crossNearDupIndexed(
      docs.filter(length(col("source")) > 4),
      Dedup.buildIndex(base, "doc_id", "text")
        .remove(base.filter(col("doc_id") % 3 === 0)
          .select(col("doc_id")), "doc_id"),
      "doc_id", "text", threshold = 0.5)
  }

  /** The media cross door over the SHRUNK fingerprint index
    * ([[graft.ops.Multimodal.FingerprintIndex.remove]] — r19 verdict
    * #3: the FOURTH and last stored family's delete path was spec-only
    * while Jaccard/IVF/LSH got doors q288/q294/q295): the q270 stored
    * index retracts its doc_id % 3 = 0 base slice (one lazy id
    * anti-join on the 20-byte relation — save() is the compaction, not
    * paid here), then the same arriving batch decodes itself and
    * band-joins the survivors. Pairs whose base sibling was retracted
    * die, the rest survive untouched — the oracle replays the hashes
    * arithmetically and brute-forces batch × SURVIVING base, so
    * retraction completeness (nothing stale answers) and minimality
    * (nothing else disappears) pin in one hash, the q288 posture on
    * the media family.
    */
  def q296(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents")
    graft.ops.Multimodal.crossNearDupMedia(
      plantedPngs(s, dir)
        .filter(pmod(col("media_id"), lit(10L)) === 0L),
      storedFpIndex(s, dir)
        .remove(d.filter(col("doc_id") % 10 =!= 0 &&
          col("doc_id") % 3 === 0).select(col("doc_id")), "doc_id"),
      maxDist = 3, maxBucket = 100)
  }

  /** [[q296]]'s phantom screen ([[graft.ops.Multimodal
    * .FingerprintIndex.removeAudit]] — the q289 posture on the media
    * family): the retraction set deliberately carries the whole batch
    * slice (doc_id % 10 = 0, never fitted) alongside the real base
    * retractions, and the audit lists exactly the never-fitted ids
    * from the same relation the remove anti-joins. Unlike the Jaccard
    * family there is no too-short-to-fit arm — [[graft.ops.Multimodal
    * .mediaFingerprints]] emits a row per media (undecodable blobs
    * keep a null-fingerprint row), so the fitted set IS the base
    * slice and the oracle is pure membership arithmetic.
    */
  def q297(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents")
    val retractions = d.filter((col("doc_id") % 10 =!= 0 &&
        col("doc_id") % 3 === 0) || col("doc_id") % 10 === 0)
      .select(col("doc_id"))
    storedFpIndex(s, dir)
      .removeAudit(retractions, "doc_id")
  }

  /** Registry retraction with CANONICAL RE-ELECTION
    * ([[graft.ops.Entity.EntityRegistry.remove]] — r19 verdict #4:
    * the one stored artifact where deletion is non-trivial, because
    * removing a canonical record must re-elect among survivors): the
    * q290 stored registry retracts its rec_id % 3 = 0 base slice —
    * which hits MANY fit-time canonicals (canonical = min component
    * id, and a third of all mins are divisible by 3) — and every
    * surviving record reports its post-retraction canonical plus
    * whether it moved. The oracle replays the registry's whole
    * derivation (planting, blocking, DuckDB's jaro_winkler, the
    * recursive-CTE canonical walk), then the retraction and the
    * election rule (surviving canonical stays; else min surviving
    * member) in plain SQL — delete, stability and re-election pinned
    * in one hash.
    *
    * Fixture (the planted base components are singletons at gate SF,
    * so a bare modulo slice retires records without ever electing
    * anyone): the variant records ADMIT first (q291's flow — each
    * links to its base canonical, making real ≥2-member components),
    * then the retraction set is exactly the base canonicals the
    * variants acquired (every one forces a re-election: the
    * surviving variant inherits) plus the rec_id % 3 = 0 base slice
    * (plain removals). Both arms derive from the planted id spaces /
    * the admit chain the q291 oracle already replays exactly.
    */
  def q298(s: SparkSession, dir: String): DataFrame = {
    val admitted0 = graft.ops.Entity.admitBatch(
      plantedVariantRecords(s, dir), storedErRegistry(s, dir),
      "rec_id", "name")
    // Four plan references read the admitted registry (the acquired-
    // canonical derivation, the remove anti-join, its re-election
    // window, and the old-canonical comparison join) — materialize the
    // admit lineage (crossLinkage + best-match window) once instead of
    // re-executing it per reference (profiled: q298 was ~100 tiny
    // re-execution stages, the HITS shape).
    val admitted = admitted0.copy(
      records = admitted0.records.localCheckpoint(true))
    val acquired = admitted.records
      .filter(col("rec_id") >= 1000000L && col("canonical_id") < 1000000L)
      .select(col("canonical_id").as("rec_id")).distinct()
    val shrunk = admitted.remove(
      plantedBaseRecords(s, dir).filter(col("rec_id") % 3 === 0)
        .select(col("rec_id")).unionByName(acquired), "rec_id")
    shrunk.records
      .join(admitted.records.select(col("rec_id"),
        col("canonical_id").as("__old")), Seq("rec_id"))
      .select(col("rec_id"), col("name"), col("canonical_id"),
        (col("canonical_id") =!= col("__old")).as("re_elected"))
  }

  /** [[q298]]'s phantom screen ([[graft.ops.Entity.EntityRegistry
    * .removeAudit]] — the q289/q297 posture on the records family):
    * the retraction set carries the variant records (rec_id ≥ 10⁶,
    * never admitted to the stored registry) alongside the real base
    * retractions; the audit lists exactly the never-admitted ids from
    * the same relation the remove anti-joins. Every base record is in
    * the registry (buildRegistry's left-join + self-canonical
    * fallback covers singletons), so the oracle is pure membership
    * arithmetic over the planted id spaces.
    */
  def q299(s: SparkSession, dir: String): DataFrame =
    storedErRegistry(s, dir).removeAudit(
      plantedBaseRecords(s, dir).filter(col("rec_id") % 3 === 0)
        .select(col("rec_id"))
        .unionByName(plantedVariantRecords(s, dir).select(col("rec_id"))),
      "rec_id")

  /** The language-planted corpus shared by q166: each doc gets its
    * label's function-word suffix ×3 (the trigram signal a char-n-gram
    * model keys on — the raw fixture text is the SAME synthetic
    * vocabulary under every label, so without planting there is
    * nothing to learn), and a 1-in-29 ADVERSARIAL arm replaces the
    * text with German function words while keeping the original
    * label, guaranteeing mispredictions so `correct` exercises both
    * verdicts.
    */
  private def langPlantedDocs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val suffix = when(col("lang") === "en",
        lit("the and of to in that it is was for the with as"))
      .when(col("lang") === "de",
        lit("der die das und ist nicht ein eine mit von zu für"))
      .when(col("lang") === "fr",
        lit("le la les et est dans une des que pour avec sur"))
      .when(col("lang") === "es",
        lit("el la los las y es en una del que por con para"))
      .when(col("lang") === "zh",
        lit("这是中文的测试文本 语言识别 中文字符 这是 中文 测试"))
      .otherwise(lit(""))
    t(s, dir)("documents").select(id, col("lang"),
      when(id % 29 === 0,
        lit("der die das und ist nicht ein eine mit von zu für der"))
        .otherwise(concat(coalesce(col("text"), lit("")), lit(" "),
          repeat(concat(suffix, lit(" ")), 3))).as("t"))
  }

  /** Cavnar–Trenkle char-trigram language ID
    * ([[TextOps.fitLangProfiles]] / [[TextOps.langIdScore]]): the REAL
    * model langGuess's scaladoc promised could swap in — fit ranked
    * top-50 trigram profiles on the even-id half, score the odd-id
    * half with the out-of-place measure (docM = 30, all-integer), and
    * compare to the true label. The adversarial 1-in-29 arm
    * guarantees both `correct` verdicts. The oracle replays planting,
    * trigram extraction, both rank windows, the penalty-50 distance
    * and the (dist, lang) argmin.
    */
  def q166(s: SparkSession, dir: String): DataFrame = {
    val planted = langPlantedDocs(s, dir)
    val model = TextOps.fitLangProfiles(
      planted.filter(col("doc_id") % 2 === 0), "lang", "t", profileK = 50)
    TextOps.langIdScore(planted.filter(col("doc_id") % 2 === 1), model,
        "doc_id", "t", docM = 30)
      .join(planted.select(col("doc_id"), col("lang").as("true_lang")),
        Seq("doc_id"))
      .select(col("doc_id"), col("true_lang"), col("pred_lang"),
        col("dist"), (col("pred_lang") === col("true_lang"))
          .as("correct"))
  }

  /** Session-cached STORED language-profile model — [[storedPostings]]'s
    * pattern for q166's Cavnar–Trenkle profiles (r15 verdict #2: the
    * lifecycle `saveLangProfiles`/`loadLangProfiles` existed but no
    * gated query paid the stored-path cost): first use runs the full
    * production lifecycle (fit on the even-id half →
    * [[TextOps.saveLangProfiles]] → [[TextOps.loadLangProfiles]], scheme
    * gate included) into a temp dir; every later use — including every
    * timed bench pass of q208 — reads the stored languages×50 profile
    * table and pays ONLY the score half. q166 stays the fit-in-query
    * comparator (5.3 s bench head for exactly this reason); q208 is the
    * production shape.
    */
  private def storedLangModel(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(s, "langmodel-stored", dir) {
      val path = graft.SessionMemo.tempDir("graft-langmodel-stored-")
      TextOps.saveLangProfiles(TextOps.fitLangProfiles(
        langPlantedDocs(s, dir).filter(col("doc_id") % 2 === 0),
        "lang", "t", profileK = 50), path)
      TextOps.loadLangProfiles(s, path)
    }

  /** Language ID over the STORED profile model ([[storedLangModel]]) —
    * the fit-once-score-per-batch production path of q166: the scored
    * half and the true-label join are identical, but the model comes
    * from the persisted artifact, so the per-call cost is the score
    * half alone (the doc-grain trigram aggregate + docM×|languages|
    * distance join) — no corpus fit pass. Scored at docM = 25 (vs
    * q166's 30) so the two rows can never share a cached result. The
    * oracle refits in SQL (the artifact is exact, so fit-then-load ≡
    * fit); the hash-match proves the save/load round-trip preserved
    * every (lang, gram, rank) row.
    */
  def q208(s: SparkSession, dir: String): DataFrame = {
    val planted = langPlantedDocs(s, dir)
    TextOps.langIdScore(planted.filter(col("doc_id") % 2 === 1),
        storedLangModel(s, dir), "doc_id", "t", docM = 25)
      .join(planted.select(col("doc_id"), col("lang").as("true_lang")),
        Seq("doc_id"))
      .select(col("doc_id"), col("true_lang"), col("pred_lang"),
        col("dist"), (col("pred_lang") === col("true_lang"))
          .as("correct"))
  }

  /** Smoothed target (mean) encoding — the feature-engineering staple
    * for high-cardinality categoricals: per source the empirical
    * P(lang = 'en') shrunk toward the global prior with weight m = 20,
    * `enc = (n_pos + m·P/N) / (n + m)`, kept EXACT by
    * cross-multiplication — `enc_num = n_pos·N + m·P`,
    * `enc_den = N·(n + m)` — with ONE 6dp division at the end (the
    * q186/q202 posture). The cross-products run in DECIMAL(38,0) (the
    * q293 widening: the old int64 spelling threw past n_pos·N ≈
    * 9·10¹⁸ under the session's ANSI default — any 10⁹⁺-doc corpus);
    * witnesses try_cast to their declared BIGINT, `enc` divides the
    * exact decimals.
    * One corpus aggregate to source grain + a 1-row global broadcast
    * (the audited 1-row BNLJ shape). Leakage note baked into the
    * docstring: production fits the encoding on the TRAIN split only
    * (compose with splitAssign); the gate encodes the full corpus
    * because the oracle pins arithmetic, not protocol.
    */
  def q211(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents").select(col("source"),
      (col("lang") === "en").cast("long").as("y"))
    val bySrc = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val g = d.agg(count(lit(1)).as("n_tot"), sum(col("y")).as("p_tot"))
    bySrc.crossJoin(broadcast(g))
      .withColumn("__num",
        dec(col("n_pos")) * dec(col("n_tot")) + dec(lit(20L) * col("p_tot")))
      .withColumn("__den", dec(col("n_tot")) * dec(col("n") + 20L))
      .select(col("source"), col("n"), col("n_pos"),
        expr("try_cast(__num as bigint)").as("enc_num"),
        expr("try_cast(__den as bigint)").as("enc_den"),
        round(col("__num").cast("double") /
          col("__den").cast("double"), 6).as("enc"))
  }

  /** Deterministic GROUP k-fold assignment — cross-validation folds
    * where every row of a group lands in ONE fold (the leakage rule
    * group k-fold exists for: near-identical docs from one source must
    * never straddle a train/eval fold boundary): fold = salted content
    * fingerprint of the GROUP KEY mod k, so the assignment is a pure
    * function of the key — engine-replayable, rerun-stable, and
    * independent of the q55 split and q59 mixture salts by its own
    * salt. Source-grain output pins every group's fold and size; the
    * fold integrity claim is by CONSTRUCTION (fold is a function of
    * source alone), which the oracle re-derives per group.
    */
  def q212(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        pmod(TextOps.fingerprint(concat(lit("fold:"), col("source"))),
          lit(5L)).as("fold"))

  /** Per-source percentile-rank normalization — mapping a raw feature
    * (n_chars) onto its within-source percentile so sources with
    * different length distributions become comparable (the
    * quantile-normalization step before cross-source quality cuts):
    * midrank basis points `pr_bp = (2·rk − 1)·5000 div n` ∈ [0, 10000),
    * rank ties broken by doc_id — all integer, no division. rk is cast
    * to BIGINT before the product (row_number returns 32-bit INT, so
    * the uncast spelling would overflow past ~214k rows per source —
    * a job-killing throw under the session's ANSI default, the
    * q186/q206 int64-bound class); int64 then
    * holds to ~9.2·10¹⁴ rows per source. The rank window is per-source
    * DOC grain (the q68 exact-rank family); the q217 min-max sibling
    * is the window-free contrast.
    */
  def q216(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars").asc, col("doc_id").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    t(s, dir)("documents").select(col("doc_id"), col("source"),
        col("n_chars"))
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .select(col("doc_id"), col("source"), col("n_chars"),
        expr("(2 * cast(rk as bigint) - 1) * 5000 div n").as("pr_bp"))
  }

  /** Per-source min-max feature scaling to integer basis points —
    * q216's WINDOW-FREE sibling: `scaled = (x − min)·10000 div
    * (max − min)` with the degenerate max = min source pinned to 0.
    * One partial-combined aggregate to source grain, extremes
    * broadcast back onto the scan — no per-source sort anywhere, the
    * shape that survives a hot source with 10¹⁰ rows. Integer div
    * keeps it exact cross-engine.
    */
  def q217(s: SparkSession, dir: String): DataFrame = {
    val ext = t(s, dir)("documents").groupBy(col("source"))
      .agg(min(col("n_chars")).as("mn"), max(col("n_chars")).as("mx"))
    t(s, dir)("documents").select(col("doc_id"), col("source"),
        col("n_chars"))
      .join(broadcast(ext), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(expr("(n_chars - mn) * 10000 div (mx - mn)"))
          .as("scaled_bp"))
  }

  /** Exact phrase search over positional postings
    * ([[Retrieval.fitPositional]] → [[Retrieval.phraseMatch]]): the
    * capability tf-only postings (q69/q102) cannot express — terms
    * must be ADJACENT, not merely co-occurring. The fixture plants
    * "alpha beta gamma" on every 9th doc, the DECOY prefix
    * "alpha beta" (no gamma) on every 13th, and a SECOND full phrase
    * on every 27th — so partial matches are excluded and
    * multi-occurrence docs emit one row per position. Output is every
    * (doc, start position); the oracle replays tokenization with
    * range-indexed positions and the adjacency predicate directly.
    */
  def q224(s: SparkSession, dir: String): DataFrame =
    Retrieval.phraseMatch(
      Retrieval.fitPositional(phrasePlantedDocs(s, dir), "doc_id", "t"),
      Seq("alpha", "beta", "gamma"))

  /** The phrase-planted corpus shared by q224 (in-query fit) and q232
    * (stored-index probe): full phrase every 9th doc, decoy prefix
    * every 13th, a second full phrase every 27th. */
  private def phrasePlantedDocs(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    t(s, dir)("documents").select(id,
      concat(coalesce(col("text"), lit("")),
        when(id % 9 === 0, lit(" alpha beta gamma")).otherwise(lit("")),
        when(id % 13 === 0, lit(" alpha beta")).otherwise(lit("")),
        when(id % 27 === 0, lit(" alpha beta gamma")).otherwise(lit("")))
        .as("t"))
  }

  /** Session-cached STORED positional postings over the phrase-planted
    * corpus — [[storedPostings]]'s pattern for q224's positional index:
    * fit once, store TERM-CLUSTERED postings through [[graft.Store]]
    * (repartition on term + within-partition sort), every later call
    * probes the stored layout where [[Retrieval.phraseMatch]]'s per-term
    * equality predicates push into the scan as PushedFilters — the q102
    * indexed-read posture for the positional structure.
    */
  private def storedPositional(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(s, "positional-stored", dir) {
      val path = graft.SessionMemo.tempDir("graft-positional-stored-")
      graft.Store.save(path, "PositionalPostings", TextOps.TokenizerScheme,
        Nil, "postings" ->
          Retrieval.fitPositional(phrasePlantedDocs(s, dir), "doc_id", "t")
            .repartition(col("term"))
            .sortWithinPartitions("term", "d_id", "pos"))
      graft.Store.load(s, path, "PositionalPostings",
        TextOps.TokenizerScheme)("postings")
    }

  /** Phrase search over the STORED positional index — q224's
    * production sibling (the q102/q208/q227 fit-once posture): the
    * per-call cost is k pruned indexed reads of one term's postings
    * each (term equality pushed into the term-clustered parquet) plus
    * the k−1 (doc, pos) equi-joins; the corpus is never re-tokenized.
    * Probes a DIFFERENT phrase ("alpha beta", the 2-term prefix) so
    * the two rows never share a result: it matches every planted arm
    * incl. the decoys, and double-plant docs emit multiple positions.
    */
  def q232(s: SparkSession, dir: String): DataFrame =
    Retrieval.phraseMatch(storedPositional(s, dir), Seq("alpha", "beta"))

  /** REAL audio-header decode, gated — q231's WAV sibling: a VALID
    * 44-byte PCM WAV header (RIFF/fmt/data chunks, all LITTLE-endian —
    * packed by byte-reversing `hex`/`unhex`, the one place the engine
    * needs LE byte order) with doc_id-derived sample rate and frame
    * count plus real zero-sample payload, decoded by the actual
    * `javax.sound.sampled` reader on the executors. frames =
    * (doc_id%10+1)·rate/100 makes the reported duration_ms exactly
    * (doc_id%10+1)·10 — integral on both engines; the oracle replays
    * rate/duration/byte-count from the planting rule, so agreement
    * means the real audio decoder parsed the real header fields.
    */
  def q233(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def leBytes(c: org.apache.spark.sql.Column, n: Int)
        : org.apache.spark.sql.Column = {
      val b = unhex(lpad(hex(c), n * 2, "0"))
      concat((n to 1 by -1).map(i => substring(b, i, 1)): _*)
    }
    val rate = (lit(8000L) * (lit(1L) + pmod(id, lit(4L)))).cast("long")
    val fr = (pmod(id, lit(10L)) + 1L) * expr("(8000 * (1 + doc_id % 4)) div 100")
    val dataLen = fr * 2L
    val wav = concat(
      lit("RIFF").cast("binary"), leBytes(dataLen + 36L, 4),
      lit("WAVE").cast("binary"),
      lit("fmt ").cast("binary"), leBytes(lit(16L), 4),
      leBytes(lit(1L), 2), leBytes(lit(1L), 2),
      leBytes(rate, 4), leBytes(rate * 2L, 4),
      leBytes(lit(2L), 2), leBytes(lit(16L), 2),
      lit("data").cast("binary"), leBytes(dataLen, 4),
      unhex(expr("repeat('00', cast(2 * ((doc_id % 10 + 1) * " +
        "((8000 * (1 + doc_id % 4)) div 100)) as int))")))
    graft.ops.Multimodal.decodeFeatures(
        t(s, dir)("documents").select(id.as("media_id"),
          lit("audio").as("kind"), wav.as("content")))
      .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("sample_rate").cast("long").as("sample_rate"),
        col("duration_ms"))
  }

  /** REAL JPEG frame-header decode, gated — the q231/q233 pattern on
    * the LAST imageio format that was spec-only (r16 verdict #2): a
    * VALID minimal JPEG — SOI, a 3-component baseline SOF0 frame
    * header with doc_id-derived height/width (height FIRST in SOF,
    * the classic transposition trap the gate would catch), a minimal
    * SOS (the JDK's native reader refuses to report dimensions until
    * the header stream reaches SOS — empirically pinned, a bare
    * SOI+SOF0 throws "missing SOS marker"), EOI — decoded by the
    * actual `javax.imageio` JPEG reader on the executors
    * ([[graft.ops.Multimodal.decodeFeatures]], mapPartitions over the
    * scan, bytes never shuffled). Dimensions span past 255 so the
    * high byte of the u16 fields is exercised, not just the low. The
    * oracle replays the planting rule and the fixed 37-byte layout:
    * agreement means the real decoder parsed the real SOF0 fields.
    */
  def q234(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def be16(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 4, "0"))
    val w = (lit(16L) + pmod(id * 3L, lit(512L))).cast("long")
    val h = (lit(16L) + pmod(id * 5L, lit(512L))).cast("long")
    val jpeg = concat(
      unhex(lit("FFD8")),                       // SOI
      unhex(lit("FFC0001108")), be16(h), be16(w), // SOF0: len 17, prec 8
      unhex(lit("03012200021101031101")),       // 3 components (4:2:0)
      unhex(lit("FFDA000C03010002100310003F00")), // SOS, 3 components
      unhex(lit("FFD9")))                       // EOI
    graft.ops.Multimodal.decodeFeatures(
        t(s, dir)("documents").select(id.as("media_id"),
          lit("image").as("kind"), jpeg.as("content")))
      .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
  }

  /** REAL MP4 container decode, gated — the last spec-only decoder
    * (r16 verdict #2): a VALID minimal ISO-BMFF file — `ftyp(isom)`,
    * `moov` holding a full-size spec-shaped `mvhd` (timescale 1000,
    * doc_id-derived duration ticks, unity rate/matrix, 100-byte v0
    * payload) and one video `trak/tkhd` (16.16 fixed-point width/
    * height in the LAST 8 payload bytes after the 36-byte transform
    * matrix, the v0 offset arithmetic [[graft.ops.Multimodal
    * .videoInfo]] walks) — parsed by the real box walker on the
    * executors. All fields big-endian (`hex`/`lpad`/`unhex` packs BE
    * natively — the WAV gate q233 owns the LE contrast). Width spans
    * past 255 AND past the 16.16 fraction point; duration exercises
    * the tick→ms rescale (ticks = ms at timescale 1000 — integral on
    * both engines). The oracle replays the planting rule and the
    * fixed 232-byte layout.
    */
  def q235(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def be32(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 8, "0"))
    val durTicks = ((pmod(id, lit(10L)) + 1L) * 500L).cast("long")
    val w = (lit(128L) + pmod(id * 3L, lit(1024L))).cast("long")
    val h = (lit(96L) + pmod(id * 7L, lit(512L))).cast("long")
    val unityMatrix = "00010000" + "00000000" * 3 + "00010000" +
      "00000000" * 3 + "40000000"
    val mvhd = concat(
      unhex(lit("0000006C6D766864")),           // size 108, 'mvhd'
      unhex(lit("00000000" + "00000000" + "00000000" + "000003E8")),
      be32(durTicks),                           // duration (ticks)
      unhex(lit("00010000" + "01000000")),      // rate 1.0, volume 1.0
      unhex(lit("00000000" + "00000000")),      // reserved
      unhex(lit(unityMatrix)),
      unhex(lit("00000000" * 6)),               // pre_defined
      unhex(lit("00000002")))                   // next_track_ID
    val tkhd = concat(
      unhex(lit("0000005C746B6864")),           // size 92, 'tkhd'
      unhex(lit("00000007" + "00000000" + "00000000" + "00000001" +
        "00000000")),                           // flags, times, id, rsvd
      be32(durTicks),
      unhex(lit("00000000" + "00000000")),      // reserved[2]
      unhex(lit("0000" + "0000" + "0000" + "0000")), // layer/alt/vol/rsvd
      unhex(lit(unityMatrix)),
      be32(w * 65536L), be32(h * 65536L))       // 16.16 fixed point
    val mp4 = concat(
      unhex(lit("000000106674797069736F6D00000200")), // ftyp isom
      unhex(lit("000000D86D6F6F76")),           // moov size 216
      mvhd,
      unhex(lit("000000647472616B")),           // trak size 100
      tkhd)
    graft.ops.Multimodal.decodeFeatures(
        t(s, dir)("documents").select(id.as("media_id"),
          lit("video").as("kind"), mp4.as("content")))
      .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("duration_ms"))
  }

  /** REAL EXIF-orientation decode, gated — the q234 JPEG with a VALID
    * APP1/Exif segment planted ahead of the SOF0 frame, so ONE pass of
    * [[graft.ops.Multimodal.decodeFeatures]] exercises BOTH real
    * readers on the same bytes: `javax.imageio` reports the SOF0
    * dimensions while the direct TIFF walk
    * ([[graft.ops.Multimodal.exifOrientation]]) pulls tag 0x0112 from
    * IFD0. Orientation = doc_id%8+1 covers all eight legal values;
    * doc_id parity flips the TIFF byte order (II little-endian vs MM
    * big-endian — the inline SHORT value sits in the FIRST two value
    * bytes under either order, the classic endianness trap this gate
    * would catch). Fixed 73-byte layout: 37-byte q234 frame + 36-byte
    * APP1 (len 0x22: Exif\0\0 preamble + 8-byte TIFF header + 18-byte
    * single-entry IFD0). The oracle replays the planting rule; header
    * walk cost is independent of blob size, bytes never shuffled.
    */
  def q239(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    def be16(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 4, "0"))
    val w = (lit(16L) + pmod(id * 3L, lit(512L))).cast("long")
    val h = (lit(16L) + pmod(id * 5L, lit(512L))).cast("long")
    val vv = lpad(hex(pmod(id, lit(8L)) + 1L), 2, "0")
    val tiffHex = when(pmod(id, lit(2L)) === 0L,
      // II: 8-byte LE header (magic 42, IFD0@8), count=1,
      // entry tag 0x0112 type SHORT count 1, value [v,0,0,0], next=0
      concat(lit("49492A0008000000" + "0100" + "12010300" + "01000000"),
        vv, lit("000000" + "00000000")))
      .otherwise(
        concat(lit("4D4D002A00000008" + "0001" + "01120003" + "00000001"
          + "00"), vv, lit("0000" + "00000000")))
    val jpeg = concat(
      unhex(lit("FFD8")),                         // SOI
      unhex(lit("FFE10022" + "457869660000")),    // APP1 len 34, Exif\0\0
      unhex(tiffHex),                             // TIFF header + IFD0
      unhex(lit("FFC0001108")), be16(h), be16(w), // SOF0
      unhex(lit("03012200021101031101")),
      unhex(lit("FFDA000C03010002100310003F00")), // SOS
      unhex(lit("FFD9")))                         // EOI
    graft.ops.Multimodal.decodeFeatures(
        t(s, dir)("documents").select(id.as("media_id"),
          lit("image").as("kind"), jpeg.as("content")))
      .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("orientation").cast("long").as("orientation"))
  }

  /** Retrieval-quality evaluation ([[graft.ops.Retrieval
    * .rankingMetrics]]) — per-query MRR / P@k / R@k / truncated-AP in
    * exact integer basis points over a planted run: every doc scores
    * into its `doc_id % 20` query at rank = row_number by the
    * deterministic score `(doc_id·7919) % 1000` (desc, doc_id asc
    * tiebreak), judgments are `doc_id % 7 < 2` (~29% relevant, so
    * P@10 and R@10 land strictly inside (0,1) and first-relevant
    * ranks scatter across 1..k). k=10. The oracle replays the
    * planting, the window, and each basis-point formula with DuckDB's
    * `//` ≡ Spark's `div`; a float AP would not hash — the integer
    * truncation is the gate's point.
    */
  def q240(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents").select(col("doc_id"))
    val run = d.select(pmod(col("doc_id"), lit(20L)).as("query_id"),
        col("doc_id"),
        pmod(col("doc_id") * 7919L, lit(1000L)).as("score"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .drop("score")
    val qrels = d.filter(pmod(col("doc_id"), lit(7L)) < 2L)
      .select(pmod(col("doc_id"), lit(20L)).as("query_id"), col("doc_id"))
    graft.ops.Retrieval.rankingMetrics(run, qrels, k = 10)
  }

  /** Interval-overlap join ([[graft.ops.AsOf.overlapJoin]]) between two
    * LARGE planted interval sets — the grid-bucketed shape rangeJoin's
    * broadcast path can't reach: events split by event_id mod 3 into an
    * `a` side (spans 1–50 min) and a `b` side (spans 2–41 min), both at
    * epoch-micro grain, grid = 1 hour so every interval touches ≤ 2
    * cells. Pair grain (a_id, b_id, overlap_us) pins the strict
    * half-open predicate AND the no-duplicate anchor-cell emission — a
    * pair straddling a shared cell boundary would hash twice if the
    * anchor trick were wrong. The oracle is the naive range join
    * (a.s < b.e AND b.s < a.e) DuckDB runs directly; overlap density is
    * time-local, so pairs scale with rows, not rows² (13k at sf0.01).
    */
  def q241(s: SparkSession, dir: String): DataFrame = {
    val ev = graft.events(s, dir).select(col("event_id"),
      unix_micros(col("ts")).as("ts_us"))
    val a = ev.filter(pmod(col("event_id"), lit(3L)) === 0L)
      .select(col("event_id").as("a_id"), col("ts_us").as("a_start"),
        (col("ts_us") + (pmod(col("event_id"), lit(50L)) + 1L) * 60000000L)
          .as("a_end"))
    val b = ev.filter(pmod(col("event_id"), lit(3L)) === 1L)
      .select(col("event_id").as("b_id"), col("ts_us").as("b_start"),
        (col("ts_us") + (pmod(col("event_id"), lit(40L)) + 2L) * 60000000L)
          .as("b_end"))
    graft.ops.AsOf.overlapJoin(a, b, "a_start", "a_end",
        "b_start", "b_end", gridWidth = 3600000000L)
      .select(col("a_id"), col("b_id"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("overlap_us"))
  }

  /** Referential-integrity audit ([[graft.ops.Validate
    * .refIntegrity]]) of lineitem → orders with planted breakage
    * (every 5th order dropped from the parent side, so ~1/5 of
    * lineitems become orphans an inner join would silently eat, and
    * childless orders are the fixture's natural no-lineitem tail):
    * one row — child count, orphan count, parent count, childless
    * count. The oracle replays both anti-join directions.
    */
  def q225(s: SparkSession, dir: String): DataFrame =
    graft.ops.Validate.refIntegrity(
      t(s, dir)("lineitem"),
      t(s, dir)("orders").filter(col("o_orderkey") % 5 =!= 0),
      "l_orderkey", "o_orderkey")

  /** Stored Bloom-filter membership scrub — the q80/q102/q208
    * fit-once lifecycle applied to Spark's own `bloom_filter_agg` /
    * `might_contain` pair: fit a filter over the BASE half's content
    * fingerprints, persist the one-row binary artifact, reload, and
    * probe the full corpus. Gated on the two claims a Bloom filter
    * actually makes: ZERO false negatives (every true member hits —
    * the guarantee; `n_false_neg` is pinned 0 by the oracle) and a
    * bounded false-positive rate (`fpr_ok`: FPs ≤ 5% of non-members —
    * the filter is sized FROM the fitted member count at 20 bits/item
    * (theoretical FPR ≈ 5·10⁻⁵), so the claim holds at any SF instead
    * of saturating past the fixture size; the exact FP count is
    * bloom-internal and deliberately NOT in the output, the q45
    * estimator rule). The production shape: the stored filter
    * broadcast-scrubs an ingest batch without touching the base
    * corpus.
    */
  def q227(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val fp = TextOps.fingerprint(concat(lit("bloom:"),
      coalesce(col("text"), lit(""))))
    // might_contain requires a CONSTANT or scalar-subquery filter (the
    // engine refuses a join column so the bloom can be bound once per
    // plan, not per row) — probe through a scalar subquery over the
    // stored one-row artifact
    val bf = storedBloom(s, dir).select("bf").scalar()
    val probed = docs.select(col("doc_id"), fp.as("f"),
        (col("doc_id") % 2 === 0).as("is_member"))
      .select(col("doc_id"), col("is_member"),
        call_function("might_contain", bf, col("f")).as("hit"))
    probed.agg(count(lit(1)).as("n_batch"),
      count(when(col("is_member"), 1)).as("n_members"),
      count(when(col("is_member") && !col("hit"), 1)).as("n_false_neg"),
      (count(when(!col("is_member") && col("hit"), 1)) * 20L <=
        count(when(!col("is_member"), 1))).as("fpr_ok"))
  }

  /** Session-cached stored Bloom filter over the even-id half's
    * fingerprints — [[storedPostings]]'s pattern for q227: fit +
    * persist once, every later call (every timed bench pass) reads
    * the one-row binary artifact and pays only the probe.
    */
  private def storedBloom(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo(s, "bloom-stored", dir) {
      val path = graft.SessionMemo.tempDir("graft-bloom-stored-")
      val members = t(s, dir)("documents").filter(col("doc_id") % 2 === 0)
      // Size the filter FROM the member count (r16 advice: a static
      // 300-item/10⁴-bit sizing saturates past sf0.01 and silently
      // inverts q227's fpr_ok claim at bigger SFs). The count is one
      // cheap driver scalar paid once per session at fit time; 20
      // bits/item puts the theoretical FPR near 5·10⁻⁵ — two orders
      // under the 5% gate at ANY corpus size.
      val nMembers = math.max(1L, members.count())
      val fp = TextOps.fingerprint(concat(lit("bloom:"),
        coalesce(col("text"), lit(""))))
      graft.Store.save(path, "BloomFilter", BloomScheme, Nil, "filter" ->
        members.select(fp.as("f"))
          .agg(expr(s"bloom_filter_agg(f, ${nMembers}L, " +
            s"${nMembers * 20L}L)").as("bf")))
      graft.Store.load(s, path, "BloomFilter", BloomScheme)("filter")
    }

  /** Version of q227's stored filter: its fingerprint and sizing. */
  private val BloomScheme = 1

  /** Binary magic-byte sniffing — the first GATED query on a BINARY
    * column (the multimodal family was spec-only): payloads planted
    * as real magic prefixes (PNG/JPEG/RIFF/GIF, one per doc_id mod 4)
    * concatenated with the document's UTF-8 bytes, then classified
    * from the BYTES — `hex(substring(payload, 1, 4))` against the
    * magic table, the format-dispatch step every multimodal ingest
    * runs before a decoder is chosen (ops/Multimodal.scala does the
    * full header parse; this gates the Spark-side binary plumbing:
    * unhex/concat/encode/substring-on-binary/hex/octet_length).
    * DuckDB cannot slice blobs, so the oracle derives the class from
    * the PLANTING rule and the byte length from
    * `octet_length(encode(text))` — agreement proves Spark's binary
    * path read the planted bytes back exactly. One scan to a 4-row
    * report, zero joins.
    */
  def q228(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val magic = element_at(array(lit("89504E47"), lit("FFD8FFE0"),
      lit("52494646"), lit("47494638")), (pmod(id, lit(4L)) + 1).cast("int"))
    val payload = concat(unhex(magic),
      encode(coalesce(col("text"), lit("")), "UTF-8"))
    t(s, dir)("documents")
      .select(id, payload.as("p"))
      .select(id,
        when(hex(substring(col("p"), 1, 4)) === "89504E47", "png")
          .when(hex(substring(col("p"), 1, 4)) === "FFD8FFE0", "jpeg")
          .when(hex(substring(col("p"), 1, 4)) === "52494646", "riff")
          .when(hex(substring(col("p"), 1, 4)) === "47494638", "gif")
          .otherwise("unknown").as("format"),
        octet_length(col("p")).cast("long").as("n_bytes"))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_bytes")).as("sum_bytes"),
        min(col("n_bytes")).as("min_bytes"),
        max(col("n_bytes")).as("max_bytes"))
  }

  /** REAL image-header decode, gated ([[graft.ops.Multimodal
    * .decodeFeatures]] — the r15 "header-only multimodal decode"
    * visibility item, now with oracle evidence): every document gets a
    * VALID planted PNG — true signature, a 13-byte IHDR with
    * doc_id-derived width/height, and the chunk's real CRC32 computed
    * in-plan by Spark's `crc32` — and the features come back through
    * the actual `javax.imageio` decoder on the executor (mapPartitions
    * over the scan, bytes never shuffled), NOT from string math on the
    * plan side. The oracle replays width/height from the planting rule
    * and n_bytes from the fixed 33-byte layout: agreement means the
    * real decoder parsed the real bytes to the planted answer for all
    * 500 images. (q228 gates format DISPATCH from magic bytes; this
    * gates field-level header decode.)
    */
  def q231(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val w = (lit(16L) + pmod(id, lit(256L))).cast("long")
    val h = (lit(16L) + pmod(id * 7L, lit(256L))).cast("long")
    def be32(c: org.apache.spark.sql.Column) = unhex(lpad(hex(c), 8, "0"))
    val ihdrBody = concat(unhex(lit("49484452")), be32(w), be32(h),
      unhex(lit("0802000000")))
    val png = concat(unhex(lit("89504E470D0A1A0A")),
      unhex(lit("0000000D")), ihdrBody, be32(crc32(ihdrBody)))
    graft.ops.Multimodal.decodeFeatures(
        t(s, dir)("documents").select(id.as("media_id"),
          lit("image").as("kind"), png.as("content")))
      .select(col("media_id"), col("n_bytes").cast("long").as("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"))
  }

  /** Golden-record survivorship ([[graft.ops.Snapshot.goldenRecord]])
    * — per-COLUMN latest-non-null consolidation across a duplicate
    * cluster, the MDM semantics [[graft.ops.Snapshot.applyChanges]]
    * deliberately lacks (latest-ROW-wins erases an older row's good
    * value with a newer NULL). The planted history interleaves the
    * nulls: v1 (every 2nd id) updates source but NULLs lang, v2
    * (every 3rd id) updates lang but NULLs source — so on ids
    * divisible by 6 the golden record is a genuine CROSS-VERSION
    * stitch (lang from v2, source from v1) neither input row carries.
    * The oracle replays each column's pick as an ordered-first
    * aggregate over (has_value DESC, version DESC).
    */
  def q230(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents").select(col("doc_id"), col("lang"),
      col("source"))
    val v0 = d.withColumn("version", lit(0L))
    val v1 = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), lit(null).cast("string").as("lang"),
        concat(col("source"), lit("-v1")).as("source"),
        lit(1L).as("version"))
    val v2 = d.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), lit("zz").as("lang"),
        lit(null).cast("string").as("source"), lit(2L).as("version"))
    graft.ops.Snapshot.goldenRecord(
      v0.unionByName(v1).unionByName(v2), "doc_id", "version",
      Seq("lang", "source"))
  }

  /** The SFT curation chain composed end to end (the q117/q63
    * composition posture applied to the instruction-tuning family):
    * parse the planted dialogues → loss-mask statistics → quality
    * gate (mask_ratio within [0.45, 0.58] — the fixture distribution
    * straddles BOTH cut edges, ~380 kept of 500 — and ≥ 1 target
    * turn) → chat-template spans for survivors only → per-dialogue
    * packing summary (total tokens = the last span's end, target-span
    * count, masked token total). ONE hash covers the whole chain; the
    * threshold compares the 4dp-ROUNDED ratio, whose cross-engine
    * equality q150 proves, so the gate itself cannot drift.
    */
  def q167(s: SparkSession, dir: String): DataFrame = {
    val turns = TextOps.parseTurns(
      t(s, dir)("documents").select(col("doc_id"),
        plantedDialogue.as("dlg")),
      "doc_id", "dlg")
    val keep = TextOps.sftLossMaskStats(turns, "doc_id")
      .filter(col("n_target_turns") >= 1 &&
        col("mask_ratio") >= 0.45 && col("mask_ratio") <= 0.58)
      .select(col("doc_id"))
    TextOps.chatTemplateSpans(turns, "doc_id")
      .join(keep, Seq("doc_id"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(max(col("tok_end")).as("total_toks"),
        count(when(col("is_target"), 1)).as("n_target_spans"),
        coalesce(sum(when(col("is_target"),
          col("tok_end") - col("tok_start"))), lit(0L))
          .as("target_toks"))
  }

  /** Classifier AUC ([[graft.ops.Classify.aucReport]]): fit the q113
    * seed-set NB model on the pair-parity train half (source is
    * doc_id mod 20, so any id-parity inside a block keeps each
    * source on one side; BLOCK parity — doc_id div 20 — alternates
    * every source across the halves), score the HELD-OUT other half (label = the same src1
    * criterion), and report the exact
    * rank-statistic AUC — ties are real (4dp score rounding), NULL
    * scores impossible here so n_null pins 0. The oracle refits the
    * model, rescores, and replays the doubled-midrank cumulative
    * arithmetic — hard to do unless BOTH engines agree on every
    * weight, every score, every rank.
    */
  def q168(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    // the split key: source is doc_id mod 20, so id parity correlates
    // with the label — BLOCK parity (div 20) puts one doc of every
    // source in each alternating block
    val m = Classify.fitNbClassifier(
      docs.filter(expr("doc_id div 20") % 2 === 0),
      "text", col("source") === "src1")
    val scored = Classify.nbScore(
        docs.filter(expr("doc_id div 20") % 2 === 1),
        "doc_id", "text", m)
      .join(docs.select(col("doc_id"),
        (col("source") === "src1").as("is_pos")), Seq("doc_id"))
    graft.ops.Classify.aucReport(scored, "nb_logodds", "is_pos")
  }

  /** Skip-gram co-occurrence counts — q74's bigram PMI sees only
    * ADJACENT pairs; embedding-training pipelines count co-occurrence
    * inside a window (word2vec's skip-gram), and the distance-tagged
    * counts are its input. JOIN-FREE by construction: each distance d
    * pairs the token array with its own d-shifted slice via `zip_with`
    * (two array ops per row, one Generate), so the only exchange is
    * the final (w, c, d) count — the corpus is never self-joined.
    * The ≥ 20 floor keeps the relation vocabulary-bounded; the oracle
    * replays the slices with index ranges.
    */
  def q169(s: SparkSession, dir: String): DataFrame = {
    val tk = split(regexp_replace(coalesce(col("text"), lit("")),
      "\\s+", " "), " ")
    def pairsAt(t: Column, d: Int): Column =
      zip_with(
        slice(t, lit(1), greatest(size(t) - d, lit(0))),
        slice(t, lit(d + 1), greatest(size(t) - d, lit(0))),
        (a, b) => struct(a.as("w"), b.as("c"), lit(d).as("d")))
    t(s, dir)("documents")
      .select(tk.as("t"))
      .select(explode(flatten(array(pairsAt(col("t"), 1),
        pairsAt(col("t"), 2)))).as("p"))
      .select(col("p.w"), col("p.c"), col("p.d"))
      .groupBy(col("w"), col("c"), col("d"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 20)
  }

  def q143(s: SparkSession, dir: String): DataFrame =
    graft.ops.Validate.histogram(t(s, dir)("lineitem"), "l_quantity",
        5.0, 45.0, 20)
      .select(lit("qty").as("metric"), col("bin"), col("bin_lo"),
        col("bin_hi"), col("n"))
      .unionByName(
        graft.ops.Validate.histogram(t(s, dir)("orders"), "o_totalprice",
            0.0, 100000.0, 7)
          .select(lit("totalprice").as("metric"), col("bin"),
            col("bin_lo"), col("bin_hi"), col("n")))

  /** Per-source Zipf fit ([[TextOps.zipfReport]]): log–log regression
    * slope/intercept over the deterministic top-256 term ranks — the
    * corpus-health screen (natural text ≈ −1; templated slices flatten).
    * topK = 256 keeps the regression input fully inside the head where
    * ranks are engine-exact; the oracle replays counts, the (n DESC,
    * term) rank, both regression aggregates and the 4dp rounding.
    */
  def q121(s: SparkSession, dir: String): DataFrame =
    TextOps.zipfReport(t(s, dir)("documents"), "source", "text",
      topK = 256)

  /** Stored cardinality registry ([[graft.ops.Sketch.fitCardinality]] /
    * extendCardinality): the even-id half of the corpus is the fitted
    * base, the odd-id half the arriving batch folded in by sketch
    * union; per source the registry's estimate is gated against the
    * exact distinct-content count of the FULL corpus (q37's sketch
    * posture: an estimator is tolerance-bounded, not equal, by
    * construction — the oracle recomputes the exact side and pins the
    * gate boolean). 5% relative tolerance; DataSketches HLL at lgK=12
    * is exact in sparse mode at these cardinalities and ≤ ~1.6% rel.
    * std. error far beyond them.
    */
  def q114(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val key = coalesce(col("text"), lit(""))
    val idx = Sketch.fitCardinality(
      docs.filter(col("doc_id") % 2 === 0), "source", key, "text-v1")
    val ext = Sketch.extendCardinality(idx,
      docs.filter(col("doc_id") % 2 === 1), "source", key, "text-v1")
    val exact = docs.select(col("source"), key.as("__k")).distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    Sketch.estimateCardinality(ext)
      .withColumnRenamed("group", "source")
      .join(exact, Seq("source"))
      .select(col("source"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          col("n_exact") * 0.05).as("sketch_ok"))
  }

  /** Session-cached learned merge table for the subword-packing query —
    * the [[storedIvf]] pattern for the tokenizer artifact: production
    * learns the table once per corpus version and every export pass
    * reuses it, so q82's bench rows price the PACKING, not a relearn
    * per materialization (q78 prices the learning itself).
    */
  private def learnedMerges(s: SparkSession, dir: String): Seq[(String, String)] =
    graft.SessionMemo(s, "merges", dir) {
      TextOps.bpeMerges(t(s, dir)("documents"), "text",
        numMerges = 8, minPairCount = 2).collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq
    }

  /** Subword-packed training export — the BPE loop closed end to end:
    * [[TextOps.packSequences]] over the [[TextOps.shuffleShard]] layout
    * counting tokens with the table [[TextOps.bpeMerges]] LEARNED from
    * this corpus (session-cached), so context windows are cut in real
    * tokenizer units. The oracle replays the whole composition in
    * DuckDB: all 8 learning rounds, per-document subword counts through
    * the training≡encode identity (the learner's final segmentation IS
    * the encode of every distinct word), and the shard/pack arithmetic.
    */
  def q82(s: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(
      TextOps.shuffleShard(t(s, dir)("documents"), "doc_id", "text",
        nShards = 8),
      "text", "shard", "pos", ctxTokens = 256,
      merges = learnedMerges(s, dir))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
        col("tok_offset"), col("seq_first"), col("seq_last"))

  /** BPE merge-table learning ([[TextOps.bpeMerges]]): the first 8
    * Sennrich merges over the documents corpus, min pair count 2. The
    * oracle replays ALL 8 rounds in DuckDB — word frequencies, the
    * separator-packed segmentation, each round's weighted pair count,
    * the (n desc, a, b) argmax, and the greedy merge application — as an
    * unrolled MATERIALIZED-CTE chain, so the learner's every decision is
    * hash-gated, not just the final table.
    */
  def q78(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeMerges(t(s, dir)("documents"), "text",
      numMerges = 8, minPairCount = 2)

  /** The 8 merges [[q78]] learns on the fixture corpus, pinned as the
    * FIXED encode table for q79 (an encode table is corpus-independent
    * input — any fixed table exercises the encoder the same way).
    */
  private val FixedBpeMerges: Seq[(String, String)] = Seq(
    "e" -> "r", "e" -> "</w>", "n" -> "</w>", "er" -> "</w>",
    "o" -> "w", "ow" -> "</w>", "o" -> "r", "s" -> "t")

  /** BPE encoding under a fixed merge table — the native
    * [[graft.expr.BpeEncode]] expression ([[TextOps.bpeTokenCount]]):
    * per-document subword token count under [[FixedBpeMerges]]. The
    * oracle re-encodes every word of every document in DuckDB (chars +
    * `</w>`, the 8 merges applied in rank order as nested greedy
    * `replace` passes) and re-counts — the codegen'd encoder scan vs an
    * independent engine, symbol-for-symbol. NULL text counts like empty
    * text (1 subword, the bare `</w>`), same as packSequences.
    */
  def q79(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents").select(col("doc_id"),
      TextOps.bpeTokenCount(coalesce(col("text"), lit("")), FixedBpeMerges)
        .cast("long").as("n_subtokens"))

  /** Unigram-surprisal LM-proxy scores ([[TextOps.unigramSurprisal]])
    * over the corpus's own token distribution; broadcastVocab exercised
    * (31-term fixture vocabulary). Every −ln p and every mean rebuilt in
    * DuckDB.
    */
  def q73(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramSurprisal(t(s, dir)("documents"), "doc_id", "text",
      broadcastVocab = true)

  /** Adjacent-bigram association table ([[TextOps.bigramAssociations]]):
    * top-20 pairs by PMI with count ≥ 5 — counts, probabilities and the
    * (pmi, a, b) cut all rebuilt in DuckDB.
    */
  def q74(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramAssociations(t(s, dir)("documents"), "text")

  /** Per-source KL drift from the corpus distribution
    * ([[TextOps.sourceDrift]]) — every probability and contribution
    * rebuilt in DuckDB.
    */
  def q75(s: SparkSession, dir: String): DataFrame =
    TextOps.sourceDrift(t(s, dir)("documents"), "source", "text")

  /** Mixture rebalancing ([[TextOps.rebalanceMixture]]): the largest
    * 50/30/20 subset over three sources (each has 25 docs at sf0.01, so
    * src1 binds: m = 50, counts 25/15/10). The oracle recomputes the
    * binding minimum, the floored counts and the full per-source
    * fingerprint rank — the two-phase prune proved invisible again.
    */
  def q76(s: SparkSession, dir: String): DataFrame =
    TextOps.rebalanceMixture(t(s, dir)("documents"), "source", "doc_id",
      "text", Map("src1" -> 0.5, "src2" -> 0.3, "src3" -> 0.2))
      .select(col("source"), col("rnk"), col("doc_id"))

  /** Pre-join blast-radius audit ([[graft.ops.Validate.joinExplosionAudit]])
    * on the classic accident — a clickstream self-joined on user_id: per
    * user both sides' event counts and their product, i.e. the user's
    * EXACT contribution to the join's output rows, priced WITHOUT running
    * the join (two key-grain aggregates; the audit join is
    * user-cardinality). `Σ est_rows` here is ~67× the input rows at
    * every sf — the audit's warning. The oracle replays the counts.
    */
  def q174(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir)("events")
    graft.ops.Validate.joinExplosionAudit(e, e, "user_id", "user_id")
  }

  /** Incremental aggregate maintenance
    * ([[graft.ops.Incremental.aggState]]/[[graft.ops.Incremental.merge]]):
    * the (event_type, epoch-day) revenue rollup maintained the
    * materialized-view way — state on the base (days before Jan 16),
    * state on the delta batch (the rest), MERGED at key grain — proven
    * ≡ recomputing the rollup over the full corpus, because the oracle
    * IS the full recompute. Counts/sums add, extrema take
    * least/greatest, avg derives at read from (sum, n). At 100 TB the
    * merge touches only the rollup, never yesterday's corpus.
    */
  def q175(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Incremental
    val e = graft.events(s, dir).select(col("event_type"),
      expr("ts_ns div 1000 div 86400000000").as("day"),
      graft.cents(col("value")).as("c"))
    val base = Incremental.aggState(
      e.filter(col("day") < 19738L), Seq("event_type", "day"), "c")
    val delta = Incremental.aggState(
      e.filter(col("day") >= 19738L), Seq("event_type", "day"), "c")
    Incremental.withAvg(
      Incremental.merge(base, delta, Seq("event_type", "day")))
  }

  /** Incremental JOIN maintenance
    * ([[graft.ops.Incremental.deltaJoin]] — r16 verdict #3, the
    * materialized-view family's missing member): the
    * lineitem ⨝ orders view maintained the insert-only way. Both
    * relations split into base/delta on DIFFERENT moduli (lineitem by
    * l_orderkey % 4, orders by % 3) so all four provenance classes
    * are planted non-empty — base⨝base in the stored view, ΔA⨝B
    * (keys ≡ 0 mod 4 only), A⨝ΔB (≡ 0 mod 3 only) and ΔA⨝ΔB
    * (≡ 0 mod 12) in the delta result — and the maintained view
    * (stored ∪ delta rows) is gated against the oracle's FULL
    * recompute of the join, row grain, by hash: the identity
    * (A∪ΔA)⨝(B∪ΔB) = A⨝B ∪ ΔA⨝B ∪ A⨝ΔB ∪ ΔA⨝ΔB proven over real
    * data, duplicates and all (an order's several lineitems multiply
    * through every class). Per batch only the delta terms run —
    * base⨝base, the 100 TB term, is never re-joined.
    */
  def q236(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Incremental
    val li = t(s, dir)("lineitem").select(col("l_orderkey").as("okey"),
      col("l_linenumber"), graft.cents(col("l_extendedprice")).as("price_c"))
    val ord = t(s, dir)("orders").select(col("o_orderkey").as("okey"),
      col("o_custkey"), col("o_orderpriority"))
    val (liBase, liDelta) = (li.filter(col("okey") % 4 =!= 0),
      li.filter(col("okey") % 4 === 0))
    val (ordBase, ordDelta) = (ord.filter(col("okey") % 3 =!= 0),
      ord.filter(col("okey") % 3 === 0))
    val stored = liBase.join(ordBase, Seq("okey"))
    stored.unionByName(
      Incremental.deltaJoin(liBase, liDelta, ordBase, ordDelta,
        Seq("okey")))
  }

  /** Retraction-aware incremental maintenance
    * ([[graft.ops.Incremental.retractHist]] — the DELETE half the
    * materialized-view family lacked; q175/q236 are insert-only): the
    * per-type value-cents histogram with every 5th event retracted as
    * a folded delete batch (state minus histState(deletes)), proven ≡
    * recomputing the histogram over the complement because the oracle
    * IS the complement recompute. The histogram is the honest delete
    * path: bin counts subtract exactly where aggState's min/max are
    * non-invertible — and every binned order statistic (q209/q210's
    * reads) stays exact on the retracted state. Per batch the
    * retraction touches state-sized relations only, never the corpus.
    */
  def q267(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Incremental
    val e = graft.events(s, dir).select(col("event_type"),
      col("event_id"), graft.cents(col("value")).as("c"))
    val full = Incremental.histState(e, Seq("event_type"), "c", 1000L)
    val dels = Incremental.histState(
      e.filter(pmod(col("event_id"), lit(5L)) === 0L),
      Seq("event_type"), "c", 1000L)
    Incremental.retractHist(full, dels, Seq("event_type"))
  }

  /** The loud twin ([[graft.ops.Incremental.retractHistAudit]]) with
    * phantom deletes PLANTED: the state excludes signup events but the
    * delete batch doesn't, so every signup delete is a delete of a row
    * never inserted — the CDC re-delivery/out-of-order signal the
    * audit exists to catch, exercised over data (non-signup deletes
    * are true subsets and stay silent). */
  def q268(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Incremental
    val e = graft.events(s, dir).select(col("event_type"),
      col("event_id"), graft.cents(col("value")).as("c"))
    val state = Incremental.histState(
      e.filter(col("event_type") =!= "signup"),
      Seq("event_type"), "c", 1000L)
    val dels = Incremental.histState(
      e.filter(pmod(col("event_id"), lit(5L)) === 0L),
      Seq("event_type"), "c", 1000L)
    Incremental.retractHistAudit(state, dels, Seq("event_type"))
  }

  /** The q275/q276 base/change split of the lineitem ⨝ orders view —
    * q236's insert-only planting EXTENDED with delete batches, and the
    * lineitem side deliberately projected to `(okey, flag)` so row
    * values DUPLICATE (an order's lineitems share return flags — the
    * bag-multiplicity case a row-identity scheme cannot maintain):
    * lineitem splits base/inserts on okey % 4, deletes = the % 5
    * slice OF THE BASE; orders splits on % 3 with deletes = the % 7
    * slice of its base — different moduli so every signed provenance
    * class (±dA⨝B, A⨝±dB, all four dA⨝dB sign products) is planted
    * non-empty. */
  private def bagViewParts(s: SparkSession, dir: String) = {
    val li = t(s, dir)("lineitem").select(col("l_orderkey").as("okey"),
      col("l_returnflag").as("flag"))
    val ord = t(s, dir)("orders").select(col("o_orderkey").as("okey"),
      col("o_orderpriority").as("prio"))
    val liBase = li.filter(col("okey") % 4 =!= 0)
    val liIns = li.filter(col("okey") % 4 === 0)
    val liDels = liBase.filter(col("okey") % 5 === 0)
    val ordBase = ord.filter(col("okey") % 3 =!= 0)
    val ordIns = ord.filter(col("okey") % 3 === 0)
    val ordDels = ordBase.filter(col("okey") % 7 === 0)
    (liBase, liDels, liIns, ordBase, ordDels, ordIns)
  }

  /** Retraction-aware incremental JOIN maintenance
    * ([[graft.ops.Incremental.deltaJoinRetract]] /
    * [[graft.ops.Incremental.applyBagDelta]] — r17 verdict #2, the
    * DELETE path q236 honestly refused): the lineitem ⨝ orders view
    * stored in bag-multiplicity form and maintained through a batch
    * carrying deletes AND inserts on BOTH sides, via the signed
    * bilinear delta (deleted-left × deleted-right re-ADDS — the
    * (−1)·(−1) term a subtract-only scheme double-counts, planted
    * non-empty here by the % 5 × % 7 overlap). Proven ≡ recomputing
    * the join of the post-change relations at value grain, duplicates
    * and all, because the oracle IS that recompute. Per batch only
    * delta-keyed joins and a state-grain merge run — base ⨝ base, the
    * 100 TB term, is never re-joined, and the apply never explodes
    * the view.
    */
  def q275(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Incremental
    val (liBase, liDels, liIns, ordBase, ordDels, ordIns) =
      bagViewParts(s, dir)
    // bagStateOfJoin ≡ bagState(join) (OpsSpec law): each side
    // aggregates to its distinct value rows BEFORE the join shuffle
    val stored = Incremental.bagStateOfJoin(liBase, ordBase, Seq("okey"))
    Incremental.applyBagDelta(stored,
      Incremental.deltaJoinRetract(liBase, liDels, liIns,
        ordBase, ordDels, ordIns, Seq("okey")))
  }

  /** The loud twin ([[graft.ops.Incremental.bagDeltaAudit]]) with
    * phantom retractions PLANTED: the lineitem delete batch carries
    * flag `'Z'` — a value the stored view never held — so every
    * Z-delete drives its view row negative by (its lineitem
    * multiplicity) × (the post-change orders multiplicity), and the
    * audit must list exactly those rows with `n_state = 0` and the
    * signed product as `w_delta`. The oracle derives the same rows
    * from the planting arithmetic — phantom detection proven over
    * data, not just by spec.
    */
  def q276(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Incremental
    val (liBase, _, liIns, ordBase, ordDels, ordIns) =
      bagViewParts(s, dir)
    val phantomDels = liBase.filter(col("okey") % 5 === 0)
      .withColumn("flag", lit("Z"))
    val stored = Incremental.bagStateOfJoin(liBase, ordBase, Seq("okey"))
    Incremental.bagDeltaAudit(stored,
      Incremental.deltaJoinRetract(liBase, phantomDels, liIns,
        ordBase, ordDels, ordIns, Seq("okey")))
  }

  /** Fuzzy record linkage with the native codegen'd `jaro_winkler`
    * expression: entity names planted with high-entropy digit blocks at
    * BOTH ends (`ddd-word-ddd`, unique per id), a deletion typo planted
    * for every 4th id, candidate pairs from TWO blocking keys (first-3
    * and last-3 chars — a single-char edit can break one end but never
    * both), scored and kept at jw ≥ 0.9. The blocking-union-distinct →
    * score → threshold shape is the linkage pipeline at any scale:
    * pair volume is Σ|block|² over ~1000-cardinality digit blocks, the
    * quadratic confined to blocks the key design keeps small. DuckDB's
    * jaro_winkler_similarity is the oracle — the expression's semantics
    * are pinned value-for-value against an independent implementation.
    * The blocking rides [[graft.ops.Dedup.capBlockRows]] (r15 verdict:
    * the blocked-pair family needed the same degenerate-block tombstone
    * CappedIdSetAgg gives LSH buckets) — a block past 1000 rows emits
    * no pairs instead of exploding; at the gate SFs every block is
    * ≲100 rows (997-cardinality digit keys), so the guard is
    * oracle-invisible here and only bites a real degenerate key.
    */
  def q176(s: SparkSession, dir: String): DataFrame =
    fuzzyPairs(s, dir)

  /** The q176/q285 planted fuzzy-linkage surface: structured
    * `nnn-word-nnn` names per doc plus single-char-deletion variants
    * for every 4th id, two-key blocking (first-3/last-3), capped
    * blocks, native jaro_winkler ≥ 0.9. One derivation shared so the
    * pair gate and the ER capstone can never disagree on what a
    * candidate pair is. */
  /** The q176/q285/q290 planted name per doc:
    * `lpad(id%997)-word-lpad(id*31%997)` — high-entropy digit blocks at
    * BOTH ends, unique per id. */
  private def plantedName(id: Column): Column = {
    val word = element_at(array(lit("alpha"), lit("bravo"), lit("carbon"),
      lit("delta"), lit("ember"), lit("falcon"), lit("granite"),
      lit("harbor")), (pmod(id, lit(8L)) + 1).cast("int"))
    concat(lpad(pmod(id, lit(997L)).cast("string"), 3, "0"),
      lit("-"), word, lit("-"),
      lpad(pmod(id * 31L, lit(997L)).cast("string"), 3, "0"))
  }

  /** One planted record per document — the ER families' BASE corpus. */
  private def plantedBaseRecords(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents").select(col("doc_id").as("rec_id"),
      plantedName(col("doc_id")).as("name"))

  /** The single-char-deletion variants (every 4th id, re-tagged
    * +1000000) — the ER families' ARRIVING batch. */
  private def plantedVariantRecords(s: SparkSession,
                                    dir: String): DataFrame = {
    val id = col("doc_id")
    t(s, dir)("documents").filter(id % 4 === 0)
      .select((id + 1000000L).as("rec_id"),
        plantedName(id).as("name"), pmod(id, length(plantedName(id)))
          .as("p"))
      .select(col("rec_id"), expr(
        "concat(substr(name, 1, cast(p as int))," +
          " substr(name, cast(p as int) + 2))").as("name"))
  }

  /** The q290 stored ENTITY registry: [[graft.ops.Entity.buildRegistry]]
    * over the planted base records at jw ≥ 0.9 / prefix 3, written
    * through the real save/load round-trip ONCE per (session, sfDir) —
    * the storedJacIndex discipline on the master-data artifact. */
  private def storedErRegistry(s: SparkSession,
                               dir: String): graft.ops.Entity.EntityRegistry =
    graft.SessionMemo(s, "er-registry", dir) {
      val path = graft.SessionMemo.tempDir("graft-er-registry-")
      graft.ops.Entity.buildRegistry(plantedBaseRecords(s, dir),
        "rec_id", "name", threshold = 0.9, prefixLen = 3).save(path)
      graft.ops.Entity.loadRegistry(s, path)
    }

  /** Blocked jaro_winkler linkage of the ARRIVING variant records
    * against the STORED entity registry
    * ([[graft.ops.Entity.crossLinkage]] — r18 verdict #4: q285 resolves
    * batch-wise; production master data links each new record against
    * the registry it already holds): the base records resolve ONCE into
    * a saved [[graft.ops.Entity.EntityRegistry]] (canonical = min
    * rec_id per jw-component), then the deletion-typo variants key
    * themselves on the PINNED first-3/last-3 blocks and score with the
    * same native jaro_winkler at the PINNED 0.9. The oracle replays the
    * planting, the blocking, DuckDB's own jaro_winkler_similarity AND
    * the registry's canonical walk (recursive CTE over base-only
    * pairs) — blocking, scoring, storage and canonical plumbing pinned
    * in one hash.
    */
  def q290(s: SparkSession, dir: String): DataFrame =
    graft.ops.Entity.crossLinkage(plantedVariantRecords(s, dir),
      storedErRegistry(s, dir), "rec_id", "name")

  /** Admit-or-merge through the STORED registry
    * ([[graft.ops.Entity.admitBatch]] — q290's door completed to the
    * decision: per arriving record, JOIN your best-matching entity or
    * become your own): the arriving batch is the deletion-typo
    * variants (every one links — admit) UNION a novel slice with
    * structurally unblockable names (no registry key collides — each
    * becomes self-canonical), so both verdicts populate. Best match =
    * max rounded jw, ties by min canonical_id — deterministic, and the
    * oracle replays the whole chain: blocking, DuckDB's own
    * jaro_winkler, the registry's canonical walk, the (jw DESC,
    * canonical ASC) argmax window and the self-canonical fallback.
    */
  def q291(s: SparkSession, dir: String): DataFrame = {
    val novel = t(s, dir)("documents").filter(col("doc_id") % 4 === 2)
      .select((col("doc_id") + 2000000L).as("rec_id"),
        concat(lit("xx-"), col("doc_id"), lit("-zz")).as("name"))
    val admitted = graft.ops.Entity.admitBatch(
      plantedVariantRecords(s, dir).unionByName(novel),
      storedErRegistry(s, dir), "rec_id", "name")
    admitted.records.filter(col("rec_id") >= 1000000L)
      .select(col("rec_id"), col("canonical_id"),
        (col("rec_id") === col("canonical_id")).as("is_new"))
  }

  private def fuzzyPairs(s: SparkSession, dir: String): DataFrame = {
    val all = plantedBaseRecords(s, dir)
      .unionByName(plantedVariantRecords(s, dir))
    def keyed(k: Column) = all.select(col("rec_id"), col("name"),
      k.as("bk"))
    // materialize the capped two-key block relation ONCE (r21, guide
    // §5/§2.4): the pair self-join reads it twice and each side's
    // lineage re-derived the planted-name scans — q176's executed plan
    // read documents.parquet 16 times (2 planted scans × 2 keys ×
    // 2 join sides, doubled by the cap's count window) through
    // over-split 128-task stages; q285 paid the same lineage inside its
    // contraction checkpoint job. 2 rows per record, record-bounded.
    // Plan evidence: plans/r21/q176_* — 16 parquet scans → 0, 8
    // exchanges → 4
    val blocks = graft.ops.Dedup.capBlockRows(
      keyed(substring(col("name"), 1, 3))
        .unionByName(keyed(substring(col("name"), -3, 3))),
      Seq("bk"), maxBlock = 1000)
      .localCheckpoint(true)
    val l = blocks.select(col("bk"), col("rec_id").as("id1"),
      col("name").as("n1"))
    val r = blocks.select(col("bk"), col("rec_id").as("id2"),
      col("name").as("n2"))
    l.join(r, Seq("bk")).filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), col("n1"), col("n2")).distinct()
      .withColumn("jw", expr("jaro_winkler(n1, n2)"))
      .filter(col("jw") >= 0.9)
      .select(col("id1"), col("id2"), col("n1"), col("n2"),
        round(col("jw"), 4).as("jw"))
  }

  /** End-to-end ENTITY RESOLUTION — the fuzzy family's capstone
    * composition, every stage already gated alone (the q266/q279
    * posture on RECORDS instead of media): blocked jaro_winkler pairs
    * (q176) → [[graft.ops.Dedup.dupClusters]] star-contraction
    * components (the q46 engine) → canonical survivor = min rec_id
    * per component, singletons self-canonical — per record, KEEP or
    * point-at-whom, the master-data answer. The oracle replays the
    * planting, the blocking, DuckDB's own jaro_winkler, walks
    * components with a recursive CTE and takes the same min —
    * blocking, scoring and contraction pinned end-to-end in one hash.
    */
  def q285(s: SparkSession, dir: String): DataFrame = {
    val pairs = fuzzyPairs(s, dir)
      .select(col("id1").as("a_id"), col("id2").as("b_id"))
    val clusters = graft.ops.Dedup.dupClusters(pairs,
      starContraction = true)
    val d = t(s, dir)("documents")
    val universe = d.select(col("doc_id").as("rec_id"))
      .unionByName(d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000L).as("rec_id")))
    universe
      .join(clusters.select(col("id").as("rec_id"), col("cluster")),
        Seq("rec_id"), "left")
      .select(col("rec_id"),
        coalesce(col("cluster"), col("rec_id")).as("canonical_id"))
      .withColumn("is_kept", (col("rec_id") === col("canonical_id"))
        .cast("boolean"))
  }

  /** Largest-remainder (Hamilton) quota allocation
    * ([[graft.ops.Sampling.hamiltonAllocation]]): a 1000-row sample
    * budget split across document sources exactly proportionally —
    * floor shares plus one extra for the largest remainders, remainder
    * ties broken by source ascending, `Σ quota = 1000` exactly. The
    * design step upstream of every stratified sampler; all int64, the
    * oracle replays the floors, remainders and the rank cut.
    */
  def q177(s: SparkSession, dir: String): DataFrame =
    graft.ops.Sampling.hamiltonAllocation(
      t(s, dir)("documents"), "source", 1000L)

  /** Snapshot diff ([[graft.ops.Snapshot.snapshotDiff]]) between a
    * corpus version and its re-crawl: every 13th doc dropped (removed),
    * every 7th re-extracted with new text AND the n_chars that follows
    * it (changed, column list "n_chars,text"), every 17th loses its
    * lang tag (changed via null-safe compare — NULL→value transitions
    * must register, never match), every 11th gains a fresh doc (added).
    * One id-keyed full-outer join; the oracle replays the planting and
    * the per-column null-safe comparisons.
    */
  def q179(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val id = col("doc_id")
    val newText = when(id % 7 === 0,
      concat(lit("re-extracted v2: "), substring(coalesce(col("text"),
        lit("")), 1, 40))).otherwise(col("text"))
    val mutated = docs.filter(id % 13 =!= 0)
      .select(id, newText.as("text"),
        when(id % 17 === 0, lit(null).cast("string"))
          .otherwise(col("lang")).as("lang"),
        col("source"),
        when(id % 7 === 0, length(concat(lit("re-extracted v2: "),
          substring(coalesce(col("text"), lit("")), 1, 40))).cast("long"))
          .otherwise(col("n_chars")).as("n_chars"))
      .unionByName(docs.filter(id % 11 === 0)
        .select((id + 1000000L).as("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
    graft.ops.Snapshot.snapshotDiff(
      docs.select("doc_id", "text", "lang", "source", "n_chars"),
      mutated, "doc_id")
  }

  /** Classifier calibration (reliability) table — the evaluation q168's
    * AUC cannot see: AUC only ranks; a trainer THRESHOLDING the score
    * needs to know whether score deciles track positive rates. Same NB
    * fit/score split as q168, held-out scores cut into 10 equal-depth
    * rank buckets (`(rn−1)·10 div n` over the (score, doc_id) order —
    * ntile's remainder placement is engine-defined, integer rank
    * arithmetic is not), then per bucket: n, positives, 4dp positive
    * rate, and the mean score computed from an EXACT DECIMAL(18,4) sum
    * of the already-4dp scores — a double sum would hash-drift on
    * order. The global rank window is eval-set-grain by construction
    * (calibration runs on held-out EVAL sets, never the corpus).
    */
  def q181(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val m = Classify.fitNbClassifier(
      docs.filter(expr("doc_id div 20") % 2 === 0),
      "text", col("source") === "src1")
    val sc = Classify.nbScore(
        docs.filter(expr("doc_id div 20") % 2 === 1),
        "doc_id", "text", m)
      .join(docs.select(col("doc_id"),
        (col("source") === "src1").as("is_pos")), Seq("doc_id"))
      .filter(col("nb_logodds").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("nb_logodds"), col("doc_id"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    sc.withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(wAll))
      .withColumn("bucket", expr("((rn - 1) * 10) div nn"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        count(when(col("is_pos"), 1)).as("n_pos"),
        sum(col("nb_logodds").cast("decimal(18,4)")).as("__s"))
      .select(col("bucket"), col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 4)
          .as("pos_rate"),
        round(col("__s").cast("double") / col("n").cast("double"), 4)
          .as("mean_score"))
  }

  /** One-pass column profile ([[graft.ops.Validate.profileColumns]])
    * of the documents table — rows / nulls / exact distincts /
    * lexicographic string-cast min–max per column, all riding one
    * aggregate scan (the multi-distinct Expand is the priced cost).
    * The oracle replays each column's metrics as plain aggregates.
    */
  def q182(s: SparkSession, dir: String): DataFrame =
    graft.ops.Validate.profileColumns(t(s, dir)("documents"),
      Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** Point-in-time (PIT) enrichment through the SCD2 door — the
    * dimensional-correctness join every warehouse needs: a planted
    * user-tier HISTORY (bronze at day 19723 for everyone; an upgrade at
    * 19733 for users not divisible by 3; platinum at 19743 for every
    * 5th) intervalized by [[graft.ops.Snapshot.scdIntervals]], then
    * every event joined to the tier valid AT ITS event day —
    * `user_id` equality carries the join (one key shuffle), the
    * interval test `day ∈ [valid_from, valid_to)` is a residual
    * filter, so this is an equi-join at any scale, never a range scan.
    * Rolled up to (tier, event_type) so the hash pins every event's
    * tier attribution; every event matches exactly one interval (the
    * intervals partition each user's timeline from day 19723).
    */
  def q184(s: SparkSession, dir: String): DataFrame = {
    val e = graft.events(s, dir).select(col("user_id"),
      col("event_type"),
      expr("ts_ns div 1000 div 86400000000").as("day"))
    val users = e.select(col("user_id")).distinct()
    def tierRows(flt: Column, day: Long, tier: Column) =
      users.filter(flt).select(col("user_id"),
        lit(day).as("version"), lit(false).as("deleted"),
        tier.as("tier"))
    val hist = tierRows(lit(true), 19723L, lit("bronze"))
      .unionByName(tierRows(col("user_id") % 3 =!= 0, 19733L,
        when(col("user_id") % 2 === 0, "silver").otherwise("gold")))
      .unionByName(tierRows(col("user_id") % 5 === 0, 19743L,
        lit("platinum")))
    val dim = graft.ops.Snapshot.scdIntervals(hist, "user_id")
      .select(col("user_id").as("d_uid"), col("tier"),
        col("valid_from"), col("valid_to"))
    e.join(dim, col("user_id") === col("d_uid") &&
        col("day") >= col("valid_from") &&
        (col("valid_to").isNull || col("day") < col("valid_to")))
      .groupBy(col("tier"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
  }

  /** Weakly-connected components over the extracted link graph — the
    * community/partition structure q162's PageRank ranks within, via
    * the SAME star-contraction machinery that clusters duplicate docs
    * (one algorithm, two graphs — the q46 posture): undirected the
    * directed edges, contract to each component's minimum node in
    * O(log²) rounds, label every node with its component root and size.
    * The oracle computes the transitive closure with a recursive CTE
    * and takes each node's minimum reachable node — a different
    * algorithm arriving at the same fixpoint, which is exactly what a
    * components gate should pin.
    */
  def q188(s: SparkSession, dir: String): DataFrame = {
    val links = t(s, dir)("documents")
      .select(col("doc_id"), plantedLinkText.as("txt"))
      .select(col("doc_id"),
        explode(regexp_extract_all(col("txt"),
          lit("(https?://\\S+)"), lit(1))).as("url"))
    val site = regexp_extract(
      WebOps.registeredDomain(WebOps.urlHost(col("url"))),
      "site([0-9]+)", 1)
    val extracted = links.select((col("doc_id") % 97).as("a_id"),
        when(site =!= "", site).cast("long").as("b_id"))
      .filter(col("b_id").isNotNull && col("a_id") =!= col("b_id"))
    // the extracted graph alone is a single expander component (max
    // degree 13, still connected under hub cuts — measured), so five
    // DISJOINT 10-node chains are planted in the 1000+ id range: the
    // output pins one giant component AND five small ones with sizes,
    // not just "everything same label"
    val id = col("doc_id")
    val chains = t(s, dir)("documents").select(
      (lit(1000L) + pmod(id, lit(5L)) * 10L + pmod(id, lit(9L)))
        .as("a_id"),
      (lit(1000L) + pmod(id, lit(5L)) * 10L + pmod(id, lit(9L)) + 1L)
        .as("b_id"))
    val pairs = extracted.unionByName(chains).distinct()
    val labels = Dedup.dupClusters(pairs, starContraction = true)
    val sizes = labels.groupBy(col("cluster"))
      .agg(count(lit(1)).as("comp_size"))
    labels.join(sizes, Seq("cluster"))
      .select(col("id").as("node"), col("cluster").as("comp"),
        col("comp_size"))
  }

  /** Reciprocal-best-match linkage — the entity-resolution refinement
    * on q176's thresholded pairs: each side's BEST counterpart under
    * (jw desc, id asc), kept only when MUTUAL (a's best is b AND b's
    * best is a) — the standard reciprocal-best-hit rule that turns a
    * many-many candidate cloud into confident 1:1 links without a
    * global matching solve. Directionalize the undirected pairs, one
    * rank window per direction (same partitioning), semi-join the two
    * argmaxes. Pair-relation-sized throughout.
    */
  def q189(s: SparkSession, dir: String): DataFrame = {
    val pairs = q176(s, dir)
    val directed = pairs.select(col("id1").as("a"), col("id2").as("b"),
        col("jw"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b"),
        col("jw")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a")).orderBy(col("jw").desc, col("b").asc)
    val best = directed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("a"), col("b"), col("jw"))
    val back = best.select(col("a").as("b2"), col("b").as("a2"))
    best.join(back, col("a") === col("a2") && col("b") === col("b2"))
      .filter(col("a") < col("b"))
      .select(col("a").as("id1"), col("b").as("id2"), col("jw"))
  }

  /** Functional-dependency audit ([[graft.ops.Validate.fdAudit]]) of
    * source → lang over the documents corpus — the data-quality
    * question "is language determined by source, and if not, what's
    * the minimum repair": per source, rows / distinct langs / the
    * deterministic majority lang / violations (rows off the majority)
    * / the holds flag. The synthetic corpus spreads every lang across
    * every source, so violations are real and the majority rule's
    * (count desc, value asc) tie-break is exercised. Oracle replays
    * cells + the rank window.
    */
  def q190(s: SparkSession, dir: String): DataFrame =
    graft.ops.Validate.fdAudit(t(s, dir)("documents"), "source", "lang")

  /** Inter-arrival-time percentiles per event type — the latency-style
    * summary (q170's exact order-statistic posture) applied to a
    * DERIVED series: per-type deltas between consecutive events (lag
    * over the (ts, event_id) order, first event excluded), then exact
    * rank-k P50/P90/P99 in integer microseconds. Two windows over the
    * SAME event_type partitioning — the lag and the rank share one
    * exchange.
    */
  def q191(s: SparkSession, dir: String): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val deltas = graft.events(s, dir)
      .select(col("event_type"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("delta_us",
        col("ts_us") - lag(col("ts_us"), 1).over(wOrd))
      .filter(col("delta_us").isNotNull)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("delta_us").asc, col("event_id").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
    deltas.withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        min(col("delta_us")).as("min_us"),
        max(col("delta_us")).as("max_us"),
        max(when(col("rn") === expr("(n * 50 + 99) div 100"),
          col("delta_us"))).as("p50_us"),
        max(when(col("rn") === expr("(n * 90 + 99) div 100"),
          col("delta_us"))).as("p90_us"),
        max(when(col("rn") === expr("(n * 99 + 99) div 100"),
          col("delta_us"))).as("p99_us"))
  }

  /** Time-travel reads ([[graft.ops.Snapshot.asOf]]) across every
    * version of the q140 change history — the reproducibility
    * guarantee: "the corpus the model saw" is a pure function of
    * (history, at). One summary row per `at` ∈ 0..4 — doc count, total
    * text length, version sum — so the hash pins each epoch's exact
    * membership AND content provenance; a production read runs ONE
    * `at`, the 5-way union here is the gate sweeping every epoch,
    * including the delete wave (at=1 shrinks), the revival (at=3
    * grows), and the second delete (at=4).
    */
  def q194(s: SparkSession, dir: String): DataFrame = {
    val hist = q140Hist(s, dir)
    (0L to 4L).map { at =>
      graft.ops.Snapshot.asOf(hist, "doc_id", at)
        .agg(count(lit(1)).as("n_docs"),
          sum(length(coalesce(col("text"), lit("")))).cast("long")
            .as("sum_len"),
          sum(col("version")).as("sum_ver"))
        .select(lit(at).as("at"), col("n_docs"), col("sum_len"),
          col("sum_ver"))
    }.reduce(_ unionByName _)
  }

  /** Weight-of-evidence / information-value binning — the classic
    * credit-scoring read of q181's calibration buckets: per score
    * decile, `WOE = ln((pos_share)/(neg_share))` with 0.5 Laplace
    * smoothing per bucket (a zero-positive bucket must score finitely),
    * and the bucket's IV term `(pos_share − neg_share)·WOE`. Every
    * share is a ratio of int64 counts; WOE and IV are each ONE double
    * expression over those integers (no chained rounding), 6dp. Same
    * NB fit/score split and integer rank buckets as q181.
    */
  def q195(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val m = Classify.fitNbClassifier(
      docs.filter(expr("doc_id div 20") % 2 === 0),
      "text", col("source") === "src1")
    val sc = Classify.nbScore(
        docs.filter(expr("doc_id div 20") % 2 === 1),
        "doc_id", "text", m)
      .join(docs.select(col("doc_id"),
        (col("source") === "src1").as("is_pos")), Seq("doc_id"))
      .filter(col("nb_logodds").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("nb_logodds"), col("doc_id"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val buckets = sc.withColumn("rn", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(wAll))
      .withColumn("bucket", expr("((rn - 1) * 10) div nn"))
      .groupBy(col("bucket"))
      .agg(count(when(col("is_pos"), 1)).as("n_pos"),
        count(when(!col("is_pos"), 1)).as("n_neg"))
    val tot = buckets.agg(sum(col("n_pos")).as("tp"),
      sum(col("n_neg")).as("tn"))
    val pShare = (col("n_pos") + 0.5) / (col("tp") + 5.0)
    val nShare = (col("n_neg") + 0.5) / (col("tn") + 5.0)
    buckets.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_pos"), col("n_neg"),
        round(log(pShare / nShare), 6).as("woe"),
        round((pShare - nShare) * log(pShare / nShare), 6).as("iv_term"))
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q21_dedup_keyed"     -> (q21 _),
    "q22_dedup_text_exact" -> (q22 _),
    "q23_neardup_minhash" -> (q23 _),
    "q24_neardup_simhash" -> (q24 _),
    "q25_text_stats"      -> (q25 _),
    "q26_langid"          -> (q26 _),
    "q27_fingerprint"     -> (q27 _),
    "q28_ann_topk"        -> (q28 _),
    "q29_ann_lsh"         -> (q29 _),
    "q30_embed_neardup"   -> (q30 _),
    "q38_token_counts"    -> (q38 _),
    "q39_dedup_survivors" -> (q39 _),
    "q45_sketch_similarity" -> (q45 _),
    "q46_dup_clusters"    -> (q46 _),
    "q47_tfidf_topterms"  -> (q47 _),
    "q48_funnel"          -> (q48 _),
    "q49_quality_gate"    -> (q49 _),
    "q50_vector_quantize" -> (q50 _),
    "q51_ann_ivf"         -> (q51 _),
    "q55_dataset_split"   -> (q55 _),
    "q57_contamination"   -> (q57 _),
    "q58_repetition"      -> (q58 _),
    "q59_mixture_sample"  -> (q59 _),
    "q60_chunking"        -> (q60 _),
    "q61_decontaminate"   -> (q61 _),
    "q62_line_dedup"      -> (q62 _),
    "q63_clean_pipeline"  -> (q63 _),
    "q64_incremental_dedup" -> (q64 _),
    "q65_shuffle_shard"   -> (q65 _),
    "q66_pack_sequences"  -> (q66 _),
    "q67_split_leakage"   -> (q67 _),
    "q68_quality_topfrac" -> (q68 _),
    "q69_bm25_retrieval"  -> (q69 _),
    "q70_stratified_sample" -> (q70 _),
    "q71_vocab_oov"       -> (q71 _),
    "q72_hybrid_rrf"      -> (q72 _),
    "q73_unigram_surprisal" -> (q73 _),
    "q74_bigram_pmi"      -> (q74 _),
    "q75_source_drift"    -> (q75 _),
    "q76_rebalance_mixture" -> (q76 _),
    "q77_hybrid_ann"      -> (q77 _),
    "q78_bpe_merges"      -> (q78 _),
    "q79_bpe_encode"      -> (q79 _),
    "q80_hybrid_ann_stored" -> (q80 _),
    "q81_curate_export"   -> (q81 _),
    "q82_subword_pack"    -> (q82 _),
    "q83_temperature_mix" -> (q83 _),
    "q84_grouped_temperature_mix" -> (q84 _),
    "q85_keepbest_survivors" -> (q85 _),
    "q86_intradoc_dedup"  -> (q86 _),
    "q87_semantic_dedup"  -> (q87 _),
    "q88_dsir_select"     -> (q88 _),
    "q89_hard_negatives"  -> (q89 _),
    "q90_maxp_retrieval"  -> (q90 _),
    "q91_stupid_backoff"  -> (q91 _),
    "q92_ann_pq"          -> (q92 _),
    "q93_tokenizer_fertility" -> (q93 _),
    "q94_embedding_outliers" -> (q94 _),
    "q95_ann_ivfpq"       -> (q95 _),
    "q96_curriculum_shard" -> (q96 _),
    "q97_pii_redact"      -> (q97 _),
    "q98_perplexity_buckets" -> (q98 _),
    "q99_weighted_sample" -> (q99 _),
    "q100_weighted_stratified" -> (q100 _),
    "q102_bm25_stored"    -> (q102 _),
    "q103_span_dedup"     -> (q103 _),
    "q104_cross_span_scrub" -> (q104 _),
    "q108_domain_cap"     -> (q108 _),
    "q109_ngram_diversity" -> (q109 _),
    "q110_winsorized_z"   -> (q110 _),
    "q111_corpus_diff"    -> (q111 _),
    "q113_nb_classifier"  -> (q113 _),
    "q114_cardinality_registry" -> (q114 _),
    "q115_canon_dedup"    -> (q115 _),
    "q116_heavy_hitters"  -> (q116 _),
    "q117_web_curation"   -> (q117 _),
    "q118_freq_registry"  -> (q118 _),
    "q120_boilerplate"    -> (q120 _),
    "q121_zipf_fit"       -> (q121 _),
    "q122_boilerplate_stored" -> (q122 _),
    "q123_domain_boilerplate" -> (q123 _),
    "q126_url_dedup"      -> (q126 _),
    "q128_quality_rules"  -> (q128 _),
    "q129_matryoshka"     -> (q129 _),
    "q132_token_budget"   -> (q132 _),
    "q133_lang_segments"  -> (q133 _),
    "q134_cdc_compaction" -> (q134 _),
    "q137_centrality"     -> (q137 _),
    "q138_validation"     -> (q138 _),
    "q139_html_extract"   -> (q139 _),
    "q140_scd_intervals"  -> (q140 _),
    "q141_edit_distance"  -> (q141 _),
    "q143_histogram"      -> (q143 _),
    "q145_export_manifest" -> (q145 _),
    "q146_zone_prune"     -> (q146 _),
    "q147_schema_evolution" -> (q147 _),
    "q148_time_embargo"   -> (q148 _),
    "q149_parse_turns"    -> (q149 _),
    "q150_loss_mask"      -> (q150 _),
    "q151_chat_spans"     -> (q151 _),
    "q152_preference_pairs" -> (q152 _),
    "q154_forget_audit"   -> (q154 _),
    "q156_balance_classes" -> (q156 _),
    "q157_dead_letter"    -> (q157 _),
    "q159_windowed_dedup" -> (q159 _),
    "q161_link_extract"   -> (q161 _),
    "q162_link_pagerank"  -> (q162 _),
    "q165_k_anonymity"    -> (q165 _),
    "q166_lang_id_model"  -> (q166 _),
    "q167_sft_pipeline"   -> (q167 _),
    "q168_classifier_auc" -> (q168 _),
    "q169_skipgram"       -> (q169 _),
    "q174_join_explosion" -> (q174 _),
    "q175_agg_state_merge" -> (q175 _),
    "q176_fuzzy_linkage"  -> (q176 _),
    "q177_quota_allocation" -> (q177 _),
    "q179_snapshot_diff"  -> (q179 _),
    "q181_calibration"    -> (q181 _),
    "q182_column_profile" -> (q182 _),
    "q184_pit_enrichment" -> (q184 _),
    "q188_link_components" -> (q188 _),
    "q189_mutual_best"    -> (q189 _),
    "q190_fd_audit"       -> (q190 _),
    "q191_interarrival"   -> (q191 _),
    "q194_time_travel"    -> (q194 _),
    "q195_woe_binning"    -> (q195 _),
    "q208_lang_id_stored" -> (q208 _),
    "q211_target_encoding" -> (q211 _),
    "q212_group_kfold"    -> (q212 _),
    "q216_percentile_norm" -> (q216 _),
    "q217_minmax_scale"   -> (q217 _),
    "q224_phrase_search"  -> (q224 _),
    "q225_ref_integrity"  -> (q225 _),
    "q227_bloom_scrub"    -> (q227 _),
    "q228_magic_sniff"    -> (q228 _),
    "q230_golden_record"  -> (q230 _),
    "q231_png_header_decode" -> (q231 _),
    "q232_phrase_stored"  -> (q232 _),
    "q233_wav_header_decode" -> (q233 _),
    "q234_jpeg_header_decode" -> (q234 _),
    "q235_mp4_header_decode" -> (q235 _),
    "q236_delta_join" -> (q236 _),
    "q239_exif_orientation" -> (q239 _),
    "q240_ranking_metrics" -> (q240 _),
    "q241_overlap_join" -> (q241 _),
    "q243_l_diversity" -> (q243 _),
    "q245_readability" -> (q245 _),
    "q246_compaction_plan" -> (q246 _),
    "q248_quantile_norm" -> (q248 _),
    "q249_quantile_norm_binned" -> (q249 _),
    "q250_cooccurrence" -> (q250 _),
    "q251_cooccurrence_audit" -> (q251 _),
    "q253_jaccard_join" -> (q253 _),
    "q254_jaccard_join_audit" -> (q254 _),
    "q258_ahash_decode" -> (q258 _),
    "q259_ahash_neardup" -> (q259 _),
    "q260_audio_fingerprint" -> (q260 _),
    "q261_audio_neardup" -> (q261 _),
    "q262_cohen_kappa" -> (q262 _),
    "q263_agreement_confusion" -> (q263 _),
    "q264_containment_join" -> (q264 _),
    "q265_containment_join_audit" -> (q265 _),
    "q266_image_dedup" -> (q266 _),
    "q267_retract_hist" -> (q267 _),
    "q268_retract_audit" -> (q268 _),
    "q270_media_cross_neardup" -> (q270 _),
    "q273_video_fingerprint" -> (q273 _),
    "q274_video_neardup" -> (q274 _),
    "q275_retract_join" -> (q275 _),
    "q276_retract_join_audit" -> (q276 _),
    "q277_cross_jaccard_stored" -> (q277 _),
    "q278_t_closeness" -> (q278 _),
    "q279_video_dedup" -> (q279 _),
    "q283_cross_containment_stored" -> (q283 _),
    "q284_novelty_score" -> (q284 _),
    "q285_entity_resolution" -> (q285 _),
    "q286_cross_semantic" -> (q286 _),
    "q287_cross_semantic_audit" -> (q287 _),
    "q288_cross_jaccard_removed" -> (q288 _),
    "q289_remove_phantom_audit" -> (q289 _),
    "q290_entity_link_stored" -> (q290 _),
    "q291_entity_admit" -> (q291 _),
    "q292_semantic_dedup_capstone" -> (q292 _),
    "q294_cross_semantic_removed" -> (q294 _),
    "q295_cross_neardup_removed" -> (q295 _),
    "q296_media_cross_removed" -> (q296 _),
    "q297_media_remove_phantom_audit" -> (q297 _),
    "q298_registry_remove_reelect" -> (q298 _),
    "q299_registry_remove_phantom_audit" -> (q299 _),
  )

  /** Queries that legitimately have no equality oracle — none since
    * round 3: the approximate-ANN queries (q29/q51) self-gate their recall
    * and are oracle-checked like everything else. */
  val rowsOnly: Set[String] = Set.empty

  /** DuckDB replay of [[TextOps.bpeMerges]] — `n` rounds unrolled as
    * MATERIALIZED CTEs (plain CTEs inline: each round references the
    * previous several times, so an inlined chain re-scans the parquet
    * exponentially many times). Same separator-packed-string technique
    * as the Spark learner: chr(31)-wrapped symbols, pair counts from the
    * split array, argmax by (n desc, a, b), greedy merge via `replace`
    * (leftmost non-overlapping in both engines).
    */
  private def bpeMergesOracle(nMerges: Int, minCount: Long): String = {
    val union = (1 to nMerges).map(r => s"SELECT * FROM best$r")
      .mkString(" UNION ALL ")
    bpeCtes(nMerges, minCount) +
      s"\nSELECT rank, a, b, n_ab FROM ($union) ORDER BY rank"
  }

  /** The learner CTE chain alone (`WITH words … seg<n>`), shared by
    * [[bpeMergesOracle]] and the subword-packing oracle (q82) — the
    * final `seg$nMerges` IS the encode of every distinct word under the
    * learned table (the PropertySpec training≡encode law, used here as
    * an oracle identity).
    */
  private def bpeCtes(nMerges: Int, minCount: Long): String = {
    val sb = new StringBuilder
    sb ++= """WITH words AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(regexp_split_to_array(
          regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) AS w
        FROM documents)
  GROUP BY 1),
seg0 AS MATERIALIZED (
  SELECT word, cnt,
    chr(31) || regexp_replace(word, '(.)', '\1' || chr(31) || chr(31), 'g')
      || '</w>' || chr(31) AS seg
  FROM words)"""
    for (r <- 1 to nMerges) {
      val p = r - 1
      sb ++= s""",
pairs$r AS MATERIALIZED (
  SELECT pr[1] AS a, pr[2] AS b, CAST(sum(cnt) AS BIGINT) AS n_ab
  FROM (SELECT cnt, unnest(list_zip(syms[1:len(syms)-1], syms[2:len(syms)])) AS pr
        FROM (SELECT cnt, string_split(substring(seg, 2, length(seg)-2),
                 chr(31)||chr(31)) AS syms
              FROM seg$p) s
        WHERE len(syms) > 1) t
  GROUP BY 1, 2),
best$r AS MATERIALIZED (
  SELECT $r AS rank, a, b, n_ab FROM pairs$r
  WHERE n_ab >= $minCount
  ORDER BY n_ab DESC, a ASC, b ASC LIMIT 1),
seg$r AS MATERIALIZED (
  SELECT word, cnt,
    CASE WHEN EXISTS (SELECT 1 FROM best$r)
      THEN replace(seg,
        chr(31) || (SELECT a FROM best$r) || chr(31) || chr(31) ||
          (SELECT b FROM best$r) || chr(31),
        chr(31) || (SELECT a || b FROM best$r) || chr(31))
      ELSE seg END AS seg
  FROM seg$p)"""
    }
    sb.toString
  }

  /** DuckDB replay of the SUBWORD-packed export (q82): learn the merge
    * table (the [[bpeCtes]] chain — `seg$nMerges` is the encode of every
    * distinct word, by the training≡encode identity), count subwords per
    * document through a word-level join, then replay the shard/pack
    * layout with those counts.
    */
  private def subwordPackOracle(nMerges: Int, minCount: Long,
                                nShards: Int, ctx: Int): String =
    bpeCtes(nMerges, minCount) + s""",
wcount AS (SELECT word,
    CAST(len(string_split(substring(seg, 2, length(seg)-2),
      chr(31)||chr(31))) AS BIGINT) AS nsym
  FROM seg$nMerges),
dw AS (SELECT doc_id, unnest(regexp_split_to_array(
    regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$$', '', 'g'),
    '\\s+')) AS word
  FROM documents),
dt AS (SELECT doc_id, CAST(sum(COALESCE(nsym, 1)) AS BIGINT) AS n_tokens
  FROM dw LEFT JOIN wcount USING (word) GROUP BY doc_id),
sf AS (SELECT d.doc_id, dt.n_tokens,
    list_reduce(
      list_prepend(CAST(0 AS BIGINT),
        list_transform(
          range(1, length('shard:' || COALESCE(d.text, '')) + 1),
          i -> CAST(unicode(substr('shard:' || COALESCE(d.text, ''),
            CAST(i AS INT), 1)) AS BIGINT))),
      (a, b) -> (a*31 + b) % 1000000007) AS fp
  FROM documents d JOIN dt USING (doc_id)),
g AS (SELECT doc_id, n_tokens, fp % $nShards AS shard,
    row_number() OVER (PARTITION BY fp % $nShards
                       ORDER BY fp, doc_id) AS pos
  FROM sf),
o AS (SELECT doc_id, shard, pos, n_tokens,
    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS tok_offset
  FROM g)
SELECT doc_id, shard, pos, n_tokens, tok_offset,
       tok_offset // $ctx AS seq_first,
       (tok_offset + n_tokens - 1) // $ctx AS seq_last
FROM o"""

  /** DuckDB replay of [[graft.expr.BpeEncode]] under a fixed merge
    * table: per-word chr(31)-wrapped char segmentation, the merges
    * applied in rank order as NESTED `replace` calls (one greedy pass
    * per rank — identical to the expression's training-time-evolution
    * semantics), then symbols counted and summed per document.
    */
  /** DuckDB replay of [[graft.expr.BpeEncode]]'s per-word segmentation
    * under a fixed merge table: chars + `</w>` packed with chr(31)
    * separators, each merge applied in rank order as a greedy `replace`
    * (leftmost non-overlapping in both engines). Shared by the encode
    * (q79) and fertility (q93) oracles. */
  private def bpeSegExpr(merges: Seq[(String, String)]): String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val base =
      """chr(31) || regexp_replace(word, '(.)', '\1' || chr(31) || chr(31), 'g')
          || '</w>' || chr(31)"""
    merges.foldLeft(base) { case (acc, (a, b)) =>
      s"""replace($acc,
          chr(31) || ${q(a)} || chr(31) || chr(31) || ${q(b)} || chr(31),
          chr(31) || ${q(a + b)} || chr(31))"""
    }
  }

  private def bpeEncodeOracle(merges: Seq[(String, String)]): String =
    s"""WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(
             regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$$', '', 'g'),
             '\\s+')) AS word
           FROM documents),
       g AS (SELECT doc_id, ${bpeSegExpr(merges)} AS seg FROM w)
       SELECT doc_id,
              CAST(sum(len(string_split(substring(seg, 2, length(seg)-2),
                chr(31)||chr(31)))) AS BIGINT) AS n_subtokens
       FROM g GROUP BY doc_id"""

  /** DuckDB replay of [[TextOps.tokenizerFertility]]: per-word subword
    * counts through the same [[bpeSegExpr]] segmentation, per-doc
    * whitespace-token and char counts, then the per-source rollup and
    * both derived ratios. */
  private def fertilityOracle(merges: Seq[(String, String)]): String =
    s"""WITH w AS (SELECT doc_id, unnest(regexp_split_to_array(
             regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$$', '', 'g'),
             '\\s+')) AS word
           FROM documents),
       g AS (SELECT doc_id, ${bpeSegExpr(merges)} AS seg FROM w),
       d AS (SELECT doc_id,
               CAST(sum(len(string_split(substring(seg, 2, length(seg)-2),
                 chr(31)||chr(31)))) AS BIGINT) AS n_sub
             FROM g GROUP BY doc_id),
       ws AS (SELECT source, doc_id,
                CAST(len(regexp_split_to_array(
                  regexp_replace(COALESCE(text, ''), '^\\s+|\\s+$$', '', 'g'),
                  '\\s+')) AS BIGINT) AS n_ws,
                CAST(length(COALESCE(text, '')) AS BIGINT) AS nc
              FROM documents)
       SELECT ws.source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(ws.n_ws) AS BIGINT) AS ws_tokens,
              CAST(sum(d.n_sub) AS BIGINT) AS subword_tokens,
              CAST(sum(ws.nc) AS BIGINT) AS n_chars,
              round(CAST(sum(d.n_sub) AS DOUBLE) / sum(ws.n_ws), 4)
                AS fertility,
              round(CAST(sum(ws.nc) AS DOUBLE) / sum(d.n_sub), 4)
                AS chars_per_token
       FROM ws JOIN d USING (doc_id)
       GROUP BY ws.source"""

  private val shingleCte =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       s AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(w)-1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
             FROM w)"""

  /** DuckDB replay of [[graft.ops.Graph.pageRank]] over the q137
    * planted link graph: the `iters` synchronous iterations unrolled as
    * MATERIALIZED CTEs (each rank relation is referenced by the next
    * iteration's contribution AND dangling CTEs — inlined chains
    * re-derive the whole prefix exponentially many times, the bpe
    * lesson). All arithmetic is int64 `//` matching Spark's `div`
    * (all values non-negative, so floor ≡ truncate); sums are cast
    * back to BIGINT immediately because DuckDB's SUM(BIGINT) widens to
    * HUGEINT, which must never reach the `//` chain or the output
    * schema.
    */
  /** The q137 planted arithmetic link graph as the `WITH … edges`
    * prefix [[pageRankOracle]] consumes. */
  private val q137EdgesSql =
    """WITH eraw AS (
           SELECT (doc_id % 97) AS src,
                  ((doc_id % 97) * 31 + 1 + (doc_id % 7)) % 97 AS dst
           FROM documents
           UNION ALL
           SELECT (doc_id % 97),
                  ((doc_id % 97) + (doc_id % 5) * 13 + 3) % 97
           FROM documents
           UNION ALL
           SELECT (doc_id % 97), 0 FROM documents WHERE doc_id % 11 = 0
           UNION ALL
           SELECT (doc_id % 97), 97 + (doc_id % 3)
           FROM documents WHERE doc_id % 17 = 0),
         edges AS MATERIALIZED (
           SELECT DISTINCT src, dst FROM eraw WHERE src <> dst)"""

  /** Shared DuckDB replay of the Cavnar–Trenkle fit + score pipeline
    * (q166 consumes it at docM = 30, the stored-model q208 at 25):
    * planting, trigram extraction, both rank windows, the penalty-50
    * out-of-place distance and the (dist, lang) argmin. The fit half
    * is always refit in SQL — the stored artifact is exact, so
    * fit-then-save-then-load ≡ fit, and a q208 hash-match is the
    * round-trip proof.
    */
  private def langIdOracle(docM: Int): String =
    raw"""WITH pl AS MATERIALIZED (SELECT doc_id, lang,
             CASE WHEN doc_id % 29 = 0
               THEN 'der die das und ist nicht ein eine mit von zu für der'
               ELSE COALESCE(text, '') || ' ' || repeat(
                 CASE lang
                   WHEN 'en' THEN 'the and of to in that it is was for the with as'
                   WHEN 'de' THEN 'der die das und ist nicht ein eine mit von zu für'
                   WHEN 'fr' THEN 'le la les et est dans une des que pour avec sur'
                   WHEN 'es' THEN 'el la los las y es en una del que por con para'
                   WHEN 'zh' THEN '这是中文的测试文本 语言识别 中文字符 这是 中文 测试'
                   ELSE '' END || ' ', 3) END AS t
           FROM documents),
         nm AS (SELECT doc_id, lang,
             lower(regexp_replace(t, '\s+', ' ', 'g')) AS norm
           FROM pl),
         gr AS MATERIALIZED (SELECT doc_id, lang,
             unnest(list_transform(
               range(1, greatest(length(norm) - 2, 0) + 1),
               i -> substr(norm, CAST(i AS INT), 3))) AS gram
           FROM nm),
         mc AS (SELECT lang, gram, count(*) AS n FROM gr
           WHERE doc_id % 2 = 0 GROUP BY lang, gram),
         model AS MATERIALIZED (SELECT lang, gram, mrank FROM
           (SELECT lang, gram, CAST(row_number() OVER (
               PARTITION BY lang ORDER BY n DESC, gram) AS INT)
               AS mrank
            FROM mc) WHERE mrank <= 50),
         dc AS (SELECT doc_id, gram, count(*) AS n FROM gr
           WHERE doc_id % 2 = 1 GROUP BY doc_id, gram),
         dg AS (SELECT doc_id, gram, drank FROM
           (SELECT doc_id, gram, CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY n DESC, gram) AS INT)
               AS drank
            FROM dc) WHERE drank <= $docM),
         langs AS (SELECT DISTINCT lang FROM model),
         ds AS (SELECT dg.doc_id, langs.lang,
             CAST(sum(COALESCE(abs(dg.drank - model.mrank), 50))
               AS BIGINT) AS dist
           FROM dg CROSS JOIN langs
           LEFT JOIN model ON model.lang = langs.lang
             AND model.gram = dg.gram
           GROUP BY dg.doc_id, langs.lang),
         best AS (SELECT doc_id, lang AS pred_lang, dist,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY dist, lang) AS rn
           FROM ds)
       SELECT b.doc_id, p.lang AS true_lang, b.pred_lang, b.dist,
              b.pred_lang = p.lang AS correct
       FROM best b JOIN pl p ON p.doc_id = b.doc_id
       WHERE b.rn = 1"""

  private def pageRankOracle(iters: Int,
                             edgesHead: String = q137EdgesSql): String = {
    val head = edgesHead +
      """,
         nodes AS MATERIALIZED (
           SELECT DISTINCT node FROM (SELECT src AS node FROM edges
                                      UNION ALL SELECT dst FROM edges)),
         outdeg AS MATERIALIZED (
           SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
           FROM edges GROUP BY src),
         nn AS MATERIALIZED (
           SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
         r0 AS MATERIALIZED (
           SELECT node,
                  CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT) AS r
           FROM nodes)"""
    val its = (1 to iters).map { k =>
      s""",
         c$k AS (SELECT e.dst AS node,
                  CAST(SUM(((r.r * 85) // 100) // od.outdeg) AS BIGINT)
                    AS csum
                FROM edges e
                JOIN r${k - 1} r ON r.node = e.src
                JOIN outdeg od ON od.node = e.src
                GROUP BY e.dst),
         d$k AS (SELECT CAST(
                  (CAST(COALESCE((SELECT SUM(r.r) FROM r${k - 1} r
                                  LEFT JOIN outdeg od ON od.node = r.node
                                  WHERE od.node IS NULL), 0) AS BIGINT)
                   * 85 // 100) // (SELECT n FROM nn) AS BIGINT) AS dshare),
         r$k AS MATERIALIZED (
           SELECT n.node,
                  CAST(((15 * 1000000000000 // 100) // (SELECT n FROM nn))
                       + (SELECT dshare FROM d$k)
                       + COALESCE(c$k.csum, 0) AS BIGINT) AS r
           FROM nodes n LEFT JOIN c$k ON c$k.node = n.node)"""
    }.mkString
    head + its +
      s"""
       SELECT r.node AS domain_id, COALESCE(od.outdeg, 0) AS outdeg,
              r.r AS r_scaled
       FROM r$iters r LEFT JOIN outdeg od ON od.node = r.node"""
  }

  /** Shared DuckDB replay of [[plantedDialogue]] + [[TextOps.parseTurns]]
    * (CTEs `d` → `pr`), used by the q149 and q150 oracles. */
  private val turnParseCtes =
    """WITH d AS (SELECT doc_id,
           concat_ws(chr(10),
             'User: q' || doc_id || ' ' ||
               substr(regexp_replace(COALESCE(text, ''), '\s+', ' ',
                 'g'), 1, 30),
             'Assistant: a' || doc_id || ' ' ||
               substr(regexp_replace(COALESCE(text, ''), '\s+', ' ',
                 'g'), 31, 40),
             CASE WHEN doc_id % 13 = 0
               THEN 'system note ' || doc_id END,
             CASE WHEN doc_id % 3 = 0
               THEN 'User: follow-up please' END,
             CASE WHEN doc_id % 3 = 0
               THEN 'Assistant: done' END) AS dlg
         FROM documents),
         ls AS (SELECT doc_id, string_split(dlg, chr(10)) AS lines
           FROM d),
         ix AS (SELECT doc_id, unnest(range(1, len(lines) + 1)) AS i,
             lines FROM ls),
         tn AS (SELECT doc_id, CAST(i - 1 AS INT) AS turn_idx,
             lines[CAST(i AS INT)] AS line FROM ix),
         pr AS (SELECT doc_id, turn_idx,
             CASE WHEN regexp_extract(line,
                 '^(User|Assistant): ', 1) <> ''
               THEN regexp_extract(line, '^(User|Assistant): ', 1)
               ELSE 'unknown' END AS role,
             CASE WHEN regexp_extract(line,
                 '^(User|Assistant): ', 1) <> ''
               THEN regexp_replace(line, '^(User|Assistant): ', '')
               ELSE line END AS body
           FROM tn)"""

  /** DuckDB replay of [[plantedLinkText]] (CTE body, aliased `txt`). */
  private val linkTextSql =
    """SELECT doc_id,
         COALESCE(text, '')
         || CASE WHEN doc_id % 11 <> 0
              THEN ' see http://www.site'
                || CAST((doc_id * 7 + 3) % 97 AS VARCHAR)
                || '.com/p/' || CAST(doc_id AS VARCHAR)
              ELSE '' END
         || CASE WHEN doc_id % 3 = 0
              THEN ' and https://crawler' || CAST(doc_id AS VARCHAR)
                || ':tok@site'
                || CAST((doc_id * 5 + 11) % 97 AS VARCHAR)
                || '.co.uk:8443/x?a=1'
              ELSE '' END
         || CASE WHEN doc_id % 13 = 0
              THEN ' plus http://site'
                || CAST(97 + doc_id % 3 AS VARCHAR) || '.github.io/d'
              ELSE '' END AS txt
       FROM documents"""

  /** q162's edge relation as the `WITH … edges` prefix for
    * [[pageRankOracle]]: extraction → host regex → public-suffix CASE
    * → site-number parse → distinct edges. */
  private def linkEdgesSql: String =
    s"""WITH lt AS ($linkTextSql),
         ux AS (SELECT doc_id,
             unnest(regexp_extract_all(txt, '(https?://\\S+)', 1))
               AS url
           FROM lt),
         hh AS (SELECT doc_id,
             lower(regexp_extract(url, '${WebOps.HostPattern}', 1))
               AS host
           FROM ux),
         pp AS (SELECT doc_id, host, string_split(host, '.') AS parts
           FROM hh),
         dd AS (SELECT doc_id,
             CASE WHEN len(parts) >= 3
                    AND (parts[-2] || '.' || parts[-1]) IN
                      ('co.uk', 'ac.uk', 'gov.uk', 'org.uk', 'co.jp',
                       'com.au', 'com.br', 'github.io')
                  THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
                  WHEN len(parts) >= 2
                  THEN parts[-2] || '.' || parts[-1]
                  ELSE host END AS domain
           FROM pp),
         en AS (SELECT doc_id % 97 AS src,
             try_cast(nullif(regexp_extract(domain, 'site([0-9]+)', 1),
               '') AS BIGINT) AS dst
           FROM dd),
         edges AS MATERIALIZED (
           SELECT DISTINCT src, dst FROM en
           WHERE dst IS NOT NULL AND src <> dst)"""

  /** Shared DuckDB replay of the NB fit-on-even-blocks / score-held-out
    * pipeline (q168 and q181 consume it): CTEs through `joined`
    * = (doc_id, s, is_pos) over the held-out half, s NULL when the
    * doc has no tokens. */
  private val nbHeldoutCtes: String =
    """WITH lab AS (SELECT doc_id, text, source = 'src1' AS is_t
           FROM documents WHERE (doc_id // 20) % 2 = 0),
         cls AS (SELECT
               CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE)
                 AS ndt,
               CAST(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END)
                 AS DOUBLE) AS ndr
             FROM lab),
         toks AS (SELECT doc_id, is_t,
               unnest(string_split(text, ' ')) AS term FROM lab),
         tc AS (SELECT term,
               CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE)
                 AS ct,
               CAST(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END)
                 AS DOUBLE) AS cr
             FROM toks GROUP BY term),
         tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr,
               CAST(count(*) AS DOUBLE) AS v FROM tc),
         w AS (SELECT term,
               round(ln((tc.ct + 1.0) / (tot.tt + tot.v * 1.0)) -
                     ln((tc.cr + 1.0) / (tot.tr + tot.v * 1.0)), 9)
                 AS w
             FROM tc CROSS JOIN tot),
         consts AS (SELECT
               round(ln(cls.ndt) - ln(cls.ndr), 9) AS bias,
               round(ln(1.0 / (tot.tt + tot.v * 1.0)) -
                     ln(1.0 / (tot.tr + tot.v * 1.0)), 9) AS dw
             FROM cls CROSS JOIN tot),
         od AS (SELECT doc_id, text, source = 'src1' AS is_pos
           FROM documents WHERE (doc_id // 20) % 2 = 1),
         otoks AS (SELECT doc_id,
               unnest(string_split(text, ' ')) AS term FROM od),
         dt AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS cnt
             FROM otoks GROUP BY doc_id, term),
         sc AS (SELECT dt.doc_id,
               round(CAST(sum(CAST(
                   round(dt.cnt * COALESCE(w.w, consts.dw), 9)
                   AS DECIMAL(38,9))) AS DOUBLE)
                 + max(consts.bias), 4) AS s
             FROM dt LEFT JOIN w USING (term) CROSS JOIN consts
             GROUP BY dt.doc_id),
         joined AS (SELECT od.doc_id, sc.s, od.is_pos
             FROM od LEFT JOIN sc USING (doc_id))"""

  /** Shared DuckDB replay of the q176 blocking + jaro_winkler scoring
    * pipeline (q176 and q189 consume it): emits the thresholded
    * (id1, id2, n1, n2, jw) pair relation. */
  private val fuzzyLinkageSql: String =
    """WITH base AS (SELECT doc_id AS rec_id,
             lpad(CAST(doc_id % 997 AS VARCHAR), 3, '0') || '-' ||
             list_value('alpha','bravo','carbon','delta','ember',
               'falcon','granite','harbor')[CAST(doc_id % 8 AS BIGINT) + 1]
             || '-' ||
             lpad(CAST((doc_id * 31) % 997 AS VARCHAR), 3, '0') AS name
           FROM documents),
         vr AS (SELECT rec_id + 1000000 AS rec_id,
             substr(name, 1, CAST((rec_id % len(name)) AS INT)) ||
             substr(name, CAST((rec_id % len(name)) AS INT) + 2) AS name
           FROM base WHERE rec_id % 4 = 0),
         al AS (SELECT * FROM base UNION ALL SELECT * FROM vr),
         bl AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM al
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM al),
         pr AS (SELECT DISTINCT l.rec_id AS id1, r.rec_id AS id2,
             l.name AS n1, r.name AS n2
           FROM bl l JOIN bl r ON l.bk = r.bk AND l.rec_id < r.rec_id),
         sc AS (SELECT id1, id2, n1, n2,
             jaro_winkler_similarity(n1, n2) AS jw FROM pr)
       SELECT id1, id2, n1, n2, round(jw, 4) AS jw
       FROM sc WHERE jw >= 0.9"""

  /** Shared DuckDB replay of the q140 change-history planting (q140
    * and q194 consume it): CTEs through `hist` = (doc_id, source,
    * text, version, deleted). */
  private val q140HistCtes: String =
    """WITH base AS (SELECT doc_id, source, text,
             CAST(0 AS BIGINT) AS version, false AS deleted
           FROM documents),
         u1 AS (SELECT doc_id, source,
             coalesce(text, '') || ' v2-edit' AS text,
             CAST(1 AS BIGINT), false
           FROM documents WHERE doc_id % 5 = 0),
         d1 AS (SELECT doc_id, source, text, CAST(1 AS BIGINT), true
           FROM documents WHERE doc_id % 7 = 0),
         i1 AS (SELECT doc_id + 1000000 AS doc_id, source,
             'fresh ' || coalesce(text, '') AS text,
             CAST(1 AS BIGINT), false
           FROM documents WHERE doc_id % 11 = 0),
         u2 AS (SELECT doc_id, source,
             coalesce(text, '') || ' v3-edit' AS text,
             CAST(2 AS BIGINT), false
           FROM documents WHERE doc_id % 10 = 0),
         r3 AS (SELECT doc_id, source,
             'revived ' || coalesce(text, '') AS text,
             CAST(3 AS BIGINT), false
           FROM documents WHERE doc_id % 35 = 0),
         d4 AS (SELECT doc_id, source, text, CAST(4 AS BIGINT), true
           FROM documents WHERE doc_id % 21 = 0),
         hist AS (SELECT * FROM base UNION ALL SELECT * FROM u1
           UNION ALL SELECT * FROM d1 UNION ALL SELECT * FROM i1
           UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM r3
           UNION ALL SELECT * FROM d4),"""

  val oracleSql: Map[String, String] = Map(
    // WOE/IV: NB replay + rank buckets + smoothed shares, each metric
    // one double expression over int64 counts
    "q195_woe_binning" -> (nbHeldoutCtes +
      """,
         v AS (SELECT doc_id, s, is_pos FROM joined WHERE s IS NOT NULL),
         rk AS (SELECT s, is_pos,
             row_number() OVER (ORDER BY s, doc_id) AS rn,
             count(*) OVER () AS nn
           FROM v),
         b AS (SELECT ((rn - 1) * 10) // nn AS bucket,
             CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT)
               AS n_pos,
             CAST(count(CASE WHEN NOT is_pos THEN 1 END) AS BIGINT)
               AS n_neg
           FROM rk GROUP BY ((rn - 1) * 10) // nn),
         t AS (SELECT sum(n_pos) AS tp, sum(n_neg) AS tn FROM b)
       SELECT bucket, n_pos, n_neg,
              round(ln(((n_pos + 0.5) / (tp + 5.0))
                / ((n_neg + 0.5) / (tn + 5.0))), 6) AS woe,
              round(((n_pos + 0.5) / (tp + 5.0)
                - (n_neg + 0.5) / (tn + 5.0))
                * ln(((n_pos + 0.5) / (tp + 5.0))
                  / ((n_neg + 0.5) / (tn + 5.0))), 6) AS iv_term
       FROM b CROSS JOIN t"""),
    // time travel: per-at winners under the merge rule, tombstones out
    "q194_time_travel" -> (q140HistCtes +
      """
         ats AS (SELECT unnest(range(0, 5)) AS at),
         hv AS (SELECT a.at, h.* FROM hist h JOIN ats a
             ON h.version <= a.at),
         r AS (SELECT *, row_number() OVER (PARTITION BY at, doc_id
               ORDER BY version DESC,
                 CASE WHEN deleted THEN 1 ELSE 0 END DESC) AS rn
           FROM hv),
         w AS (SELECT * FROM r WHERE rn = 1 AND NOT deleted)
       SELECT at, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS sum_len,
              CAST(sum(version) AS BIGINT) AS sum_ver
       FROM w GROUP BY at"""),
    // reciprocal best: directionalized argmax per side, mutual keep
    "q189_mutual_best" -> (s"WITH pairs AS ($fuzzyLinkageSql)," +
      """
         d AS (SELECT id1 AS a, id2 AS b, jw FROM pairs
               UNION ALL SELECT id2, id1, jw FROM pairs),
         r AS (SELECT a, b, jw, row_number() OVER (PARTITION BY a
               ORDER BY jw DESC, b ASC) AS rn
           FROM d),
         best AS (SELECT a, b, jw FROM r WHERE rn = 1)
       SELECT x.a AS id1, x.b AS id2, x.jw
       FROM best x JOIN best y ON y.a = x.b AND y.b = x.a
       WHERE x.a < x.b"""),
    // FD audit: (lhs, rhs) cells + deterministic majority rank window
    "q190_fd_audit" ->
      """WITH cells AS (SELECT source, lang,
             CAST(count(*) AS BIGINT) AS cnt
           FROM documents GROUP BY source, lang),
         r AS (SELECT *, row_number() OVER (PARTITION BY source
               ORDER BY cnt DESC, CAST(lang AS VARCHAR) ASC NULLS LAST)
               AS rk
           FROM cells)
       SELECT source, CAST(sum(cnt) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS n_distinct_rhs,
              max(CASE WHEN rk = 1 THEN CAST(lang AS VARCHAR) END)
                AS majority_rhs,
              CAST(sum(cnt) - max(CASE WHEN rk = 1 THEN cnt END)
                AS BIGINT) AS n_violations,
              count(*) = 1 AS holds
       FROM r GROUP BY source""",
    // inter-arrival percentiles: lag deltas + exact integer rank picks
    "q191_interarrival" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us
           FROM events),
         d AS (SELECT event_type, event_id,
             ts_us - lag(ts_us) OVER (PARTITION BY event_type
               ORDER BY ts_us, event_id) AS delta_us
           FROM e),
         f AS (SELECT * FROM d WHERE delta_us IS NOT NULL),
         r AS (SELECT event_type, delta_us,
             row_number() OVER (PARTITION BY event_type
               ORDER BY delta_us, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM f)
       SELECT event_type, CAST(max(n) AS BIGINT) AS n,
              min(delta_us) AS min_us, max(delta_us) AS max_us,
              max(CASE WHEN rn = (n * 50 + 99) // 100
                THEN delta_us END) AS p50_us,
              max(CASE WHEN rn = (n * 90 + 99) // 100
                THEN delta_us END) AS p90_us,
              max(CASE WHEN rn = (n * 99 + 99) // 100
                THEN delta_us END) AS p99_us
       FROM r GROUP BY event_type""",
    // link components: transitive closure via recursive CTE, min
    // reachable node per node — a DIFFERENT algorithm than the engine's
    // star contraction, same fixpoint
    "q188_link_components" -> ("WITH RECURSIVE " +
      linkEdgesSql.stripPrefix("WITH ") +
      """,
         pl AS (SELECT DISTINCT
             1000 + (doc_id % 5) * 10 + (doc_id % 9) AS src,
             1000 + (doc_id % 5) * 10 + (doc_id % 9) + 1 AS dst
           FROM documents),
         alledges AS (SELECT src, dst FROM edges
                UNION SELECT src, dst FROM pl),
         ue AS (SELECT src AS a, dst AS b FROM alledges
                UNION SELECT dst, src FROM alledges),
         nodes AS (SELECT DISTINCT a AS node FROM ue),
         reach(node, r) AS (
           SELECT node, node FROM nodes
           UNION
           SELECT ue.b, reach.r FROM reach JOIN ue ON ue.a = reach.node),
         comp AS (SELECT node, min(r) AS comp FROM reach GROUP BY node),
         sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS comp_size
           FROM comp GROUP BY comp)
       SELECT c.node, c.comp, sz.comp_size
       FROM comp c JOIN sz ON sz.comp = c.comp"""),
    // calibration: NB replay + integer rank buckets + exact decimal sum
    "q181_calibration" -> (nbHeldoutCtes +
      """,
         v AS (SELECT doc_id, s, is_pos FROM joined WHERE s IS NOT NULL),
         r AS (SELECT s, is_pos,
             row_number() OVER (ORDER BY s, doc_id) AS rn,
             count(*) OVER () AS nn
           FROM v),
         b AS (SELECT ((rn - 1) * 10) // nn AS bucket, s, is_pos FROM r)
       SELECT bucket, CAST(count(*) AS BIGINT) AS n,
              CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT)
                AS n_pos,
              round(CAST(count(CASE WHEN is_pos THEN 1 END) AS DOUBLE)
                / CAST(count(*) AS DOUBLE), 4) AS pos_rate,
              round(CAST(sum(CAST(s AS DECIMAL(18,4))) AS DOUBLE)
                / CAST(count(*) AS DOUBLE), 4) AS mean_score
       FROM b GROUP BY bucket"""),
    // column profile: per-column aggregates, string-cast min/max
    "q182_column_profile" -> Seq("doc_id", "text", "lang", "source",
      "n_chars").map(c =>
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
              CAST(count(*) - count($c) AS BIGINT) AS n_null,
              CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
              min(CAST($c AS VARCHAR)) AS min_s,
              max(CAST($c AS VARCHAR)) AS max_s
       FROM documents""").mkString("\n       UNION ALL\n"),
    // PIT enrichment: planted tier history intervalized via lead(),
    // residual interval filter over the user_id equi-join
    "q184_pit_enrichment" ->
      """WITH e AS (SELECT user_id, event_type,
             epoch_us(ts) // 86400000000 AS day FROM events),
         u AS (SELECT DISTINCT user_id FROM e),
         hist AS (
           SELECT user_id, 19723 AS version, 'bronze' AS tier FROM u
           UNION ALL
           SELECT user_id, 19733,
             CASE WHEN user_id % 2 = 0 THEN 'silver' ELSE 'gold' END
           FROM u WHERE user_id % 3 <> 0
           UNION ALL
           SELECT user_id, 19743, 'platinum' FROM u
           WHERE user_id % 5 = 0),
         dim AS (SELECT user_id AS d_uid, tier, version AS valid_from,
             lead(version) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to
           FROM hist)
       SELECT d.tier, e.event_type, CAST(count(*) AS BIGINT) AS n,
              CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
       FROM e JOIN dim d ON d.d_uid = e.user_id
         AND e.day >= d.valid_from
         AND (d.valid_to IS NULL OR e.day < d.valid_to)
       GROUP BY d.tier, e.event_type""",
    // join-explosion audit: per-key counts and products, never the join
    "q174_join_explosion" ->
      """WITH c AS (SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
           FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
       SELECT key, n AS n_left, n AS n_right, n * n AS est_rows FROM c""",
    // incremental agg maintenance: the oracle IS the full recompute the
    // merge must equal
    "q175_agg_state_merge" ->
      """WITH e AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             CAST(round(value * 100) AS BIGINT) AS c FROM events)
       SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
              CAST(sum(c) AS BIGINT) AS sum_v, min(c) AS min_v,
              max(c) AS max_v,
              round(CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE), 4)
                AS avg_v
       FROM e GROUP BY event_type, day""",
    // incremental join maintenance: the oracle IS the full recompute
    // the maintained view (stored ∪ delta terms) must equal by hash
    "q236_delta_join" ->
      """SELECT l_orderkey AS okey, l_linenumber,
              CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
              o_custkey, o_orderpriority
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey""",
    // fuzzy linkage: planting, two blocking keys, union-distinct pairs,
    // DuckDB's own jaro_winkler_similarity as the independent scorer
    "q176_fuzzy_linkage" -> fuzzyLinkageSql,
    // Hamilton allocation: floors, remainders, rank cut — all int64
    "q177_quota_allocation" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
           FROM documents GROUP BY source),
         s AS (SELECT source, n, (SELECT sum(n) FROM c) AS t FROM c),
         b AS (SELECT source, n, (1000 * n) // t AS base,
             (1000 * n) % t AS rem,
             1000 - sum((1000 * n) // t) OVER () AS extra,
             row_number() OVER (ORDER BY (1000 * n) % t DESC, source ASC)
               AS rk
           FROM s)
       SELECT source, n,
              CAST(base + CASE WHEN rk <= extra THEN 1 ELSE 0 END
                AS BIGINT) AS quota
       FROM b""",
    // snapshot diff: planting + null-safe per-column comparison, column
    // list in sorted name order
    "q179_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text, lang, source, n_chars
           FROM documents),
         m AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN 're-extracted v2: ' ||
               substr(COALESCE(text, ''), 1, 40) ELSE text END AS text,
             CASE WHEN doc_id % 17 = 0 THEN NULL ELSE lang END AS lang,
             source,
             CASE WHEN doc_id % 7 = 0 THEN CAST(length('re-extracted v2: '
               || substr(COALESCE(text, ''), 1, 40)) AS BIGINT)
               ELSE n_chars END AS n_chars
           FROM documents WHERE doc_id % 13 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text, lang, source, n_chars
           FROM documents WHERE doc_id % 11 = 0),
         j AS (SELECT COALESCE(o.doc_id, m.doc_id) AS doc_id,
             o.doc_id IS NOT NULL AS in_old,
             m.doc_id IS NOT NULL AS in_new,
             NOT (o.lang IS NOT DISTINCT FROM m.lang) AS d_lang,
             NOT (o.n_chars IS NOT DISTINCT FROM m.n_chars) AS d_nchars,
             NOT (o.source IS NOT DISTINCT FROM m.source) AS d_source,
             NOT (o.text IS NOT DISTINCT FROM m.text) AS d_text
           FROM o FULL OUTER JOIN m ON m.doc_id = o.doc_id)
       SELECT doc_id,
              CASE WHEN NOT in_old THEN 'added'
                   WHEN NOT in_new THEN 'removed'
                   WHEN d_lang OR d_nchars OR d_source OR d_text
                     THEN 'changed'
                   ELSE 'unchanged' END AS status,
              CASE WHEN in_old AND in_new THEN
                COALESCE(array_to_string(list_filter(list_value(
                  CASE WHEN d_lang THEN 'lang' END,
                  CASE WHEN d_nchars THEN 'n_chars' END,
                  CASE WHEN d_source THEN 'source' END,
                  CASE WHEN d_text THEN 'text' END), x -> x IS NOT NULL),
                  ','), '')
                ELSE '' END AS changed_cols
       FROM j""",
    // fixed-point integer PageRank: 4 iterations, dangling nodes
    // 97-99 redistributed, hub site 0 on top — bit-identical replay
    "q137_centrality" -> pageRankOracle(4),
    // skip-gram pairs: d-shifted slice zips replayed with index ranges
    "q169_skipgram" ->
      """WITH tk AS (SELECT string_split(regexp_replace(
             COALESCE(text, ''), '\s+', ' ', 'g'), ' ') AS t
           FROM documents),
         p AS (
           SELECT t[CAST(j AS INT)] AS w, t[CAST(j + 1 AS INT)] AS c,
                  1 AS d
           FROM tk, unnest(range(1, greatest(len(t) - 1, 0) + 1))
             AS u(j)
           UNION ALL
           SELECT t[CAST(j AS INT)], t[CAST(j + 2 AS INT)], 2
           FROM tk, unnest(range(1, greatest(len(t) - 2, 0) + 1))
             AS u(j))
       SELECT w, c, CAST(d AS INT) AS d, CAST(count(*) AS BIGINT) AS n
       FROM p GROUP BY w, c, d HAVING count(*) >= 20""",
    // held-out AUC: the q113 fit/score replay on the split halves,
    // then the doubled-midrank cumulative rank arithmetic
    "q168_classifier_auc" -> (nbHeldoutCtes +
      """,
         nn AS (SELECT CAST(count(CASE WHEN s IS NULL THEN 1 END)
               AS BIGINT) AS n_null FROM joined),
         g AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
               CAST(count(CASE WHEN is_pos THEN 1 END) AS BIGINT)
                 AS np
             FROM joined WHERE s IS NOT NULL GROUP BY s),
         cw AS (SELECT s, n, np,
               CAST(COALESCE(sum(n) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS BIGINT) AS prev
             FROM g),
         ag AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(n) - sum(np) AS BIGINT) AS n_neg,
               CAST(count(CASE WHEN n > 1 THEN 1 END) AS BIGINT)
                 AS n_tied_scores,
               CAST(sum(np * (prev * 2 + n + 1)) AS BIGINT) AS s2
             FROM cw)
       SELECT n_pos, n_neg, n_tied_scores,
              (SELECT n_null FROM nn) AS n_null,
              CASE WHEN n_pos > 0 AND n_neg > 0
                THEN round(CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / CAST(n_pos * 2 * n_neg AS DOUBLE), 6) END AS auc
       FROM ag"""),
    // the SFT chain in one hash: parse + mask stats + 4dp-ratio gate
    // + spans for survivors + packing summary
    "q167_sft_pipeline" -> (turnParseCtes +
      """,
         tk0 AS (SELECT doc_id, role,
             CASE WHEN length(body) = 0 THEN 0
                  ELSE len(regexp_split_to_array(regexp_replace(body,
                    '^\s+|\s+$', '', 'g'), '\s+')) END AS toks
           FROM pr),
         st AS (SELECT doc_id,
             CAST(count(CASE WHEN role = 'Assistant' THEN 1 END)
               AS BIGINT) AS ntt,
             sum(toks) AS nt,
             COALESCE(sum(CASE WHEN role = 'Assistant' THEN toks END),
               0) AS ntgt
           FROM tk0 GROUP BY doc_id),
         keep AS (SELECT doc_id FROM st
           WHERE ntt >= 1 AND nt > 0
             AND round(CAST(ntgt AS DOUBLE) / CAST(nt AS DOUBLE), 4)
               BETWEEN 0.45 AND 0.58),
         sl AS (SELECT doc_id, turn_idx, role,
             CASE WHEN length(body) = 0 THEN 0
                  ELSE len(regexp_split_to_array(regexp_replace(body,
                    '^\s+|\s+$', '', 'g'), '\s+')) END + 2 AS tok_len
           FROM pr),
         sp AS (SELECT doc_id, turn_idx, role, tok_len,
             COALESCE(sum(tok_len) OVER (PARTITION BY doc_id
                 ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS tok_start
           FROM sl),
         sv AS (SELECT sp.* FROM sp
           WHERE sp.doc_id IN (SELECT doc_id FROM keep))
       SELECT doc_id,
              CAST(max(tok_start + tok_len) AS BIGINT) AS total_toks,
              CAST(count(CASE WHEN role = 'Assistant' THEN 1 END)
                AS BIGINT) AS n_target_spans,
              CAST(COALESCE(sum(CASE WHEN role = 'Assistant'
                THEN tok_len END), 0) AS BIGINT) AS target_toks
       FROM sv GROUP BY doc_id"""),
    // k-anonymity: grouping + threshold replayed
    "q165_k_anonymity" ->
      """SELECT source, lang, n_chars // 200 AS size_band,
              CAST(count(*) AS BIGINT) AS n,
              count(*) < 5 AS at_risk
       FROM documents GROUP BY source, lang, n_chars // 200""",
    // co-occurrence: dedup, cap, self-join, orientation and counts
    // replayed naively
    "q250_cooccurrence" ->
      """WITH base AS (
           SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
         sz AS (SELECT b, count(*) AS n FROM base GROUP BY b),
         kept AS (SELECT base.b, base.i FROM base
                  JOIN sz ON base.b = sz.b WHERE sz.n <= 6)
       SELECT k1.i AS item_a, k2.i AS item_b,
              CAST(count(*) AS BIGINT) AS n_baskets
       FROM kept k1 JOIN kept k2 ON k1.b = k2.b AND k1.i < k2.i
       GROUP BY 1, 2""",
    // exact jaccard join: the NAIVE all-pairs comparator — hash match
    // is the prefix-filter completeness theorem over data
    "q253_jaccard_join" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
               FROM w),
         sz AS (SELECT doc_id, len(sh) AS n FROM s WHERE len(sh) > 0),
         tok AS (SELECT doc_id, unnest(sh) AS tk FROM s
                 WHERE len(sh) > 0),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 count(*) AS i
           FROM tok a JOIN tok b
             ON a.tk = b.tk AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
       SELECT a_id AS id_a, b_id AS id_b, CAST(i AS BIGINT) AS n_inter,
              CAST(i * 10000 // (sa.n + sb.n - i) AS BIGINT)
                AS jaccard_bp
       FROM inter
       JOIN sz sa ON sa.doc_id = inter.a_id
       JOIN sz sb ON sb.doc_id = inter.b_id
       WHERE i * 10000 // (sa.n + sb.n - i) >= 9000""",
    // jaccard join audit: the (df ASC, token ASC) per-doc prefix rule
    // re-derived, over-cap postings listed
    "q254_jaccard_join_audit" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
               FROM w),
         tok AS (SELECT doc_id, unnest(sh) AS tk FROM s
                 WHERE len(sh) > 0),
         freq AS (SELECT tk, count(*) AS df FROM tok GROUP BY tk),
         r AS (SELECT t.doc_id, t.tk,
                 row_number() OVER (PARTITION BY t.doc_id
                   ORDER BY f.df, t.tk) AS rn,
                 count(*) OVER (PARTITION BY t.doc_id) AS n
               FROM tok t JOIN freq f USING (tk)),
         pfx AS (SELECT doc_id, tk FROM r
                 WHERE rn <= n - ((9000 * n + 9999) // 10000) + 1)
       SELECT tk AS token, CAST(count(*) AS BIGINT) AS posting_len
       FROM pfx GROUP BY tk HAVING count(*) > 18""",
    // containment join: naive all-ordered-pairs intersection —
    // hash equality is the containment-prefix completeness theorem
    "q264_containment_join" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
               FROM w),
         sz AS (SELECT doc_id, len(sh) AS n FROM s WHERE len(sh) > 0),
         tok AS (SELECT doc_id, unnest(sh) AS tk FROM s
                 WHERE len(sh) > 0),
         inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 count(*) AS i
           FROM tok a JOIN tok b
             ON a.tk = b.tk AND a.doc_id <> b.doc_id
           GROUP BY 1, 2)
       SELECT a_id AS id_a, b_id AS id_b, CAST(i AS BIGINT) AS n_inter,
              CAST(i * 10000 // sa.n AS BIGINT) AS containment_bp
       FROM inter JOIN sz sa ON sa.doc_id = inter.a_id
       WHERE i * 10000 >= 8500 * sa.n""",
    // containment audit: both posting families re-derived — the
    // (df ASC, token ASC) prefix rule AND the full postings — with
    // side attribution
    "q265_containment_join_audit" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
               FROM w),
         tok AS (SELECT doc_id, unnest(sh) AS tk FROM s
                 WHERE len(sh) > 0),
         freq AS (SELECT tk, count(*) AS df FROM tok GROUP BY tk),
         r AS (SELECT t.doc_id, t.tk,
                 row_number() OVER (PARTITION BY t.doc_id
                   ORDER BY f.df, t.tk) AS rn,
                 count(*) OVER (PARTITION BY t.doc_id) AS n
               FROM tok t JOIN freq f USING (tk)),
         pfx AS (SELECT doc_id, tk FROM r
                 WHERE rn <= n - ((8500 * n + 9999) // 10000) + 1)
       SELECT 'prefix' AS side, tk AS token,
              CAST(count(*) AS BIGINT) AS posting_len
       FROM pfx GROUP BY tk HAVING count(*) > 24
       UNION ALL
       SELECT 'postings' AS side, tk AS token,
              CAST(count(*) AS BIGINT) AS posting_len
       FROM tok GROUP BY tk HAVING count(*) > 24""",
    // retraction: maintained state == recompute on the complement.
    // Floor binning replayed explicitly (engine binOf floors; DuckDB
    // `//` truncates — differs on negative cents; r17 advice).
    "q267_retract_hist" ->
      """WITH v AS (SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS c FROM events),
         e AS (SELECT event_type, event_id,
             (c - ((c % 1000) + 1000) % 1000) // 1000 AS bin FROM v)
       SELECT event_type, CAST(bin AS BIGINT) AS bin,
              CAST(count(*) AS BIGINT) AS n
       FROM e WHERE event_id % 5 <> 0 GROUP BY 1, 2""",
    // t-closeness: cells, marginals, the absent-value closed term and
    // the single truncating division replayed exactly (names ng/nv/nn
    // because DuckDB identifiers are case-insensitive — `N` would
    // collide with a group-count `n`)
    "q278_t_closeness" ->
      """WITH cells AS (SELECT source, n_chars // 200 AS size_band,
             lang, count(*) AS ngv
           FROM documents GROUP BY 1, 2, 3),
         g AS (SELECT source, size_band, sum(ngv) AS ng
               FROM cells GROUP BY 1, 2),
         v AS (SELECT lang, sum(ngv) AS nv FROM cells GROUP BY 1),
         tot AS (SELECT sum(nv) AS nn FROM v),
         pres AS (SELECT c.source, c.size_band,
             sum(abs(c.ngv * nn - v.nv * g.ng)) AS sp,
             sum(v.nv) AS cov, max(g.ng) AS ng, max(nn) AS nn
           FROM cells c JOIN g USING (source, size_band)
           -- null-safe: the engine joins values with <=> so NULL lang
           -- counts as a sensitive value (r18 advice — a plain USING
           -- join would drop NULL-lang cells if the fixture ever
           -- carries them)
           JOIN v ON c.lang IS NOT DISTINCT FROM v.lang CROSS JOIN tot
           GROUP BY 1, 2)
       SELECT source, size_band, CAST(ng AS BIGINT) AS n,
              CAST((10000 * (sp + (nn - cov) * ng)) // (2 * ng * nn)
                AS BIGINT) AS tvd_bp,
              (10000 * (sp + (nn - cov) * ng)) // (2 * ng * nn) > 3000
                AS at_risk
       FROM pres""",
    // novelty: base-vocabulary distinct + per-doc seen/unseen split +
    // the truncating bp division, replayed
    "q284_novelty_score" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
               FROM w),
         tok AS (SELECT doc_id, unnest(sh) AS tk FROM s
                 WHERE len(sh) > 0),
         vocab AS (SELECT DISTINCT tk FROM tok WHERE doc_id % 10 <> 0)
       SELECT t.doc_id AS new_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
              CAST(sum(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS novelty_bp
       FROM tok t LEFT JOIN vocab v ON v.tk = t.tk
       WHERE t.doc_id % 10 = 0
       GROUP BY 1""",
    // ER capstone: planting + blocking + DuckDB's own jaro_winkler +
    // recursive-CTE components + min-id canonical, singletons self
    "q285_entity_resolution" ->
      """WITH RECURSIVE base AS (SELECT doc_id AS rec_id,
             lpad(CAST(doc_id % 997 AS VARCHAR), 3, '0') || '-' ||
             list_value('alpha','bravo','carbon','delta','ember',
               'falcon','granite','harbor')[CAST(doc_id % 8 AS BIGINT) + 1]
             || '-' ||
             lpad(CAST((doc_id * 31) % 997 AS VARCHAR), 3, '0') AS name
           FROM documents),
         vr AS (SELECT rec_id + 1000000 AS rec_id,
             substr(name, 1, CAST((rec_id % len(name)) AS INT)) ||
             substr(name, CAST((rec_id % len(name)) AS INT) + 2) AS name
           FROM base WHERE rec_id % 4 = 0),
         al AS (SELECT * FROM base UNION ALL SELECT * FROM vr),
         bl AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM al
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM al),
         pr AS (SELECT DISTINCT l.rec_id AS id1, r.rec_id AS id2,
             l.name AS n1, r.name AS n2
           FROM bl l JOIN bl r ON l.bk = r.bk AND l.rec_id < r.rec_id),
         sc AS (SELECT id1, id2 FROM pr
                WHERE jaro_winkler_similarity(n1, n2) >= 0.9),
         e AS (SELECT id1 AS src, id2 AS dst FROM sc
               UNION ALL SELECT id2, id1 FROM sc),
         reach AS (
           SELECT src AS id, src AS r FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         uni AS (SELECT doc_id AS rec_id FROM documents
                 UNION ALL
                 SELECT doc_id + 1000000 FROM documents
                 WHERE doc_id % 4 = 0)
       SELECT u.rec_id,
              coalesce(c.cluster, u.rec_id) AS canonical_id,
              u.rec_id = coalesce(c.cluster, u.rec_id) AS is_kept
       FROM uni u LEFT JOIN comp c ON c.id = u.rec_id""",
    // semantic dedup capstone: planting + brute-force all-pairs cosine
    // + recursive-CTE components + the same min — the q266/q279/q285
    // replay on vectors
    "q292_semantic_dedup_capstone" ->
      """WITH RECURSIVE e0 AS (SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         corpus AS (SELECT vec_id, v FROM e0
                    UNION ALL
                    SELECT vec_id + 10000, v FROM e0 WHERE vec_id % 7 = 0),
         sc AS (SELECT a.vec_id AS id1, b.vec_id AS id2
           FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
           WHERE list_cosine_similarity(a.v, b.v) >= 0.95),
         ed AS (SELECT id1 AS src, id2 AS dst FROM sc
                UNION ALL SELECT id2, id1 FROM sc),
         reach AS (
           SELECT src AS id, src AS r FROM ed
           UNION
           SELECT ed.src, reach.r FROM ed JOIN reach ON ed.dst = reach.id),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
       SELECT c.vec_id,
              coalesce(p.cluster, c.vec_id) AS canonical_id,
              c.vec_id = coalesce(p.cluster, c.vec_id) AS is_kept
       FROM corpus c LEFT JOIN comp p ON p.id = c.vec_id""",
    // semantic delete path: the q286 brute force over the SURVIVING
    // base only (vec_id % 3 <> 0)
    "q294_cross_semantic_removed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         base AS (SELECT vec_id, v FROM e
                  WHERE vec_id % 5 <> 0 AND vec_id % 3 <> 0),
         batch AS (SELECT vec_id AS new_id, v FROM e WHERE vec_id % 5 = 0
                   UNION ALL
                   SELECT vec_id + 10000, v FROM e
                   WHERE vec_id % 7 = 0 AND vec_id % 5 <> 0)
       SELECT b.new_id, ba.vec_id AS base_id,
              round(list_cosine_similarity(b.v, ba.v), 4) AS sim
       FROM batch b JOIN base ba
         ON list_cosine_similarity(b.v, ba.v) >= 0.95""",
    // stored-IVF semantic door: naive all batch x base cross-cosine —
    // cell-routing completeness on planted clones + save/load in one
    // hash (the q64/q277 posture on the embedding family)
    "q286_cross_semantic" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         base AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 0),
         batch AS (SELECT vec_id AS new_id, v FROM e WHERE vec_id % 5 = 0
                   UNION ALL
                   SELECT vec_id + 10000, v FROM e
                   WHERE vec_id % 7 = 0 AND vec_id % 5 <> 0)
       SELECT b.new_id, ba.vec_id AS base_id,
              round(list_cosine_similarity(b.v, ba.v), 4) AS sim
       FROM batch b JOIN base ba
         ON list_cosine_similarity(b.v, ba.v) >= 0.95""",
    // the door's cap conservation law self-gates in-engine (k-means
    // cells are not SQL-replayable — the q87 posture); the oracle pins
    // the replayable anchor (uncapped pair count) and the booleans
    "q287_cross_semantic_audit" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
         base AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 0),
         batch AS (SELECT vec_id AS new_id, v FROM e WHERE vec_id % 5 = 0
                   UNION ALL
                   SELECT vec_id + 10000, v FROM e
                   WHERE vec_id % 7 = 0 AND vec_id % 5 <> 0)
       SELECT CAST(count(*) AS BIGINT) AS n_pairs, TRUE AS audit_fired,
              TRUE AS conservation_ok
       FROM batch b JOIN base ba
         ON list_cosine_similarity(b.v, ba.v) >= 0.95""",
    // stored-registry cross linkage: planting + blocking + DuckDB's own
    // jaro_winkler + the registry's canonical walk (recursive CTE over
    // BASE-only pairs) — blocking, scoring, storage and canonical
    // plumbing in one hash
    "q290_entity_link_stored" ->
      """WITH RECURSIVE base AS (SELECT doc_id AS rec_id,
             lpad(CAST(doc_id % 997 AS VARCHAR), 3, '0') || '-' ||
             list_value('alpha','bravo','carbon','delta','ember',
               'falcon','granite','harbor')[CAST(doc_id % 8 AS BIGINT) + 1]
             || '-' ||
             lpad(CAST((doc_id * 31) % 997 AS VARCHAR), 3, '0') AS name
           FROM documents),
         vr AS (SELECT rec_id + 1000000 AS rec_id,
             substr(name, 1, CAST((rec_id % len(name)) AS INT)) ||
             substr(name, CAST((rec_id % len(name)) AS INT) + 2) AS name
           FROM base WHERE rec_id % 4 = 0),
         kb AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM base
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM base),
         pr AS (SELECT DISTINCT l.rec_id AS id1, r.rec_id AS id2,
             l.name AS n1, r.name AS n2
           FROM kb l JOIN kb r ON l.bk = r.bk AND l.rec_id < r.rec_id),
         sc AS (SELECT id1, id2 FROM pr
                WHERE jaro_winkler_similarity(n1, n2) >= 0.9),
         e AS (SELECT id1 AS src, id2 AS dst FROM sc
               UNION ALL SELECT id2, id1 FROM sc),
         reach AS (
           SELECT src AS id, src AS r FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         reg AS (SELECT b.rec_id, b.name,
             coalesce(c.cluster, b.rec_id) AS canonical_id
           FROM base b LEFT JOIN comp c ON c.id = b.rec_id),
         kv AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM vr
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM vr),
         kr AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM reg
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM reg),
         cand AS (SELECT DISTINCT v.rec_id AS new_id, r.rec_id AS rec_id,
             v.name AS nv, r.name AS nb
           FROM kv v JOIN kr r ON v.bk = r.bk)
       SELECT c.new_id, c.rec_id, g.canonical_id,
              round(jaro_winkler_similarity(c.nv, c.nb), 4) AS jw
       FROM cand c JOIN reg g ON g.rec_id = c.rec_id
       WHERE jaro_winkler_similarity(c.nv, c.nb) >= 0.9""",
    // admit-or-merge: q290's links + the (rounded-jw DESC, canonical
    // ASC) argmax window + the self-canonical fallback for the novel
    // slice, replayed end-to-end
    "q291_entity_admit" ->
      """WITH RECURSIVE base AS (SELECT doc_id AS rec_id,
             lpad(CAST(doc_id % 997 AS VARCHAR), 3, '0') || '-' ||
             list_value('alpha','bravo','carbon','delta','ember',
               'falcon','granite','harbor')[CAST(doc_id % 8 AS BIGINT) + 1]
             || '-' ||
             lpad(CAST((doc_id * 31) % 997 AS VARCHAR), 3, '0') AS name
           FROM documents),
         vr AS (SELECT rec_id + 1000000 AS rec_id,
             substr(name, 1, CAST((rec_id % len(name)) AS INT)) ||
             substr(name, CAST((rec_id % len(name)) AS INT) + 2) AS name
           FROM base WHERE rec_id % 4 = 0),
         novel AS (SELECT doc_id + 2000000 AS rec_id,
             'xx-' || doc_id || '-zz' AS name
           FROM documents WHERE doc_id % 4 = 2),
         allb AS (SELECT * FROM vr UNION ALL SELECT * FROM novel),
         kb AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM base
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM base),
         pr AS (SELECT DISTINCT l.rec_id AS id1, r.rec_id AS id2,
             l.name AS n1, r.name AS n2
           FROM kb l JOIN kb r ON l.bk = r.bk AND l.rec_id < r.rec_id),
         sc AS (SELECT id1, id2 FROM pr
                WHERE jaro_winkler_similarity(n1, n2) >= 0.9),
         e AS (SELECT id1 AS src, id2 AS dst FROM sc
               UNION ALL SELECT id2, id1 FROM sc),
         reach AS (
           SELECT src AS id, src AS r FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         reg AS (SELECT b.rec_id, b.name,
             coalesce(c.cluster, b.rec_id) AS canonical_id
           FROM base b LEFT JOIN comp c ON c.id = b.rec_id),
         kv AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM allb
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM allb),
         kr AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM reg
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM reg),
         cand AS (SELECT DISTINCT v.rec_id AS new_id, r.rec_id AS rec_id,
             v.name AS nv, r.name AS nb
           FROM kv v JOIN kr r ON v.bk = r.bk),
         links AS (SELECT c.new_id, g.canonical_id,
             round(jaro_winkler_similarity(c.nv, c.nb), 4) AS jw
           FROM cand c JOIN reg g ON g.rec_id = c.rec_id
           WHERE jaro_winkler_similarity(c.nv, c.nb) >= 0.9),
         best AS (SELECT new_id, canonical_id FROM (
             SELECT new_id, canonical_id, row_number() OVER (
               PARTITION BY new_id
               ORDER BY jw DESC, canonical_id ASC) AS rn
             FROM links) WHERE rn = 1)
       SELECT b.rec_id,
              coalesce(best.canonical_id, b.rec_id) AS canonical_id,
              b.rec_id = coalesce(best.canonical_id, b.rec_id) AS is_new
       FROM allb b LEFT JOIN best ON best.new_id = b.rec_id""",
    // registry retraction: q291's admit chain replayed, then the
    // retraction (acquired canonicals + the % 3 slice) and the
    // re-election rule (surviving canonical stays; else min
    // surviving member) in plain SQL
    "q298_registry_remove_reelect" ->
      """WITH RECURSIVE base AS (SELECT doc_id AS rec_id,
             lpad(CAST(doc_id % 997 AS VARCHAR), 3, '0') || '-' ||
             list_value('alpha','bravo','carbon','delta','ember',
               'falcon','granite','harbor')[CAST(doc_id % 8 AS BIGINT) + 1]
             || '-' ||
             lpad(CAST((doc_id * 31) % 997 AS VARCHAR), 3, '0') AS name
           FROM documents),
         vr AS (SELECT rec_id + 1000000 AS rec_id,
             substr(name, 1, CAST((rec_id % len(name)) AS INT)) ||
             substr(name, CAST((rec_id % len(name)) AS INT) + 2) AS name
           FROM base WHERE rec_id % 4 = 0),
         kb AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM base
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM base),
         pr AS (SELECT DISTINCT l.rec_id AS id1, r.rec_id AS id2,
             l.name AS n1, r.name AS n2
           FROM kb l JOIN kb r ON l.bk = r.bk AND l.rec_id < r.rec_id),
         sc AS (SELECT id1, id2 FROM pr
                WHERE jaro_winkler_similarity(n1, n2) >= 0.9),
         e AS (SELECT id1 AS src, id2 AS dst FROM sc
               UNION ALL SELECT id2, id1 FROM sc),
         reach AS (
           SELECT src AS id, src AS r FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
         reg AS (SELECT b.rec_id, b.name,
             coalesce(c.cluster, b.rec_id) AS canonical_id
           FROM base b LEFT JOIN comp c ON c.id = b.rec_id),
         kv AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM vr
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM vr),
         kr AS (SELECT rec_id, name, substr(name, 1, 3) AS bk FROM reg
                UNION ALL
                SELECT rec_id, name, substr(name, -3, 3) AS bk FROM reg),
         cand AS (SELECT DISTINCT v.rec_id AS new_id, r.rec_id AS rec_id,
             v.name AS nv, r.name AS nb
           FROM kv v JOIN kr r ON v.bk = r.bk),
         links AS (SELECT c.new_id, g.canonical_id,
             round(jaro_winkler_similarity(c.nv, c.nb), 4) AS jw
           FROM cand c JOIN reg g ON g.rec_id = c.rec_id
           WHERE jaro_winkler_similarity(c.nv, c.nb) >= 0.9),
         best AS (SELECT new_id, canonical_id FROM (
             SELECT new_id, canonical_id, row_number() OVER (
               PARTITION BY new_id
               ORDER BY jw DESC, canonical_id ASC) AS rn
             FROM links) WHERE rn = 1),
         adm AS (SELECT v.rec_id, v.name,
             coalesce(best.canonical_id, v.rec_id) AS canonical_id
           FROM vr v LEFT JOIN best ON best.new_id = v.rec_id),
         reg2 AS (SELECT * FROM reg UNION ALL SELECT * FROM adm),
         rmset AS (SELECT rec_id FROM base WHERE rec_id % 3 = 0
                   UNION
                   SELECT DISTINCT canonical_id FROM adm
                   WHERE canonical_id < 1000000),
         surv AS (SELECT * FROM reg2
                  WHERE rec_id NOT IN (SELECT rec_id FROM rmset)),
         nc AS (SELECT canonical_id,
             coalesce(min(CASE WHEN rec_id = canonical_id
                            THEN rec_id END),
                      min(rec_id)) AS new_c
           FROM surv GROUP BY canonical_id)
       SELECT s.rec_id, s.name, nc.new_c AS canonical_id,
              s.canonical_id <> nc.new_c AS re_elected
       FROM surv s JOIN nc ON nc.canonical_id = s.canonical_id""",
    // registry delete phantom screen: every base record is admitted
    // (left-join + self-canonical fallback), so phantoms are exactly
    // the never-admitted variant ids riding the retraction set
    "q299_registry_remove_phantom_audit" ->
      """SELECT doc_id + 1000000 AS rec_id FROM documents
         WHERE doc_id % 4 = 0""",
    // delete path: the q277 brute force over the SURVIVING base only —
    // retraction completeness + minimality in one hash
    "q288_cross_jaccard_removed" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
               FROM w),
         sz AS (SELECT doc_id, len(sh) AS n FROM s WHERE len(sh) > 0),
         tok AS (SELECT doc_id, unnest(sh) AS tk FROM s
                 WHERE len(sh) > 0),
         inter AS (SELECT a.doc_id AS new_id, b.doc_id AS base_id,
                 count(*) AS i
           FROM tok a JOIN tok b
             ON a.tk = b.tk AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
               AND b.doc_id % 3 <> 0
           GROUP BY 1, 2)
       SELECT new_id, base_id, CAST(i AS BIGINT) AS n_inter,
              CAST(i * 10000 // (sa.n + sb.n - i) AS BIGINT)
                AS jaccard_bp
       FROM inter
       JOIN sz sa ON sa.doc_id = new_id
       JOIN sz sb ON sb.doc_id = base_id
       WHERE i * 10000 // (sa.n + sb.n - i) >= 9000""",
    // phantom screen: retraction ids minus the FITTED base ids (docs
    // too short to shingle were never fitted — normTokenSets)
    "q289_remove_phantom_audit" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
               FROM w),
         fitted AS (SELECT doc_id FROM s
                    WHERE len(sh) > 0 AND doc_id % 10 <> 0),
         r AS (SELECT doc_id FROM documents
               WHERE (doc_id % 10 <> 0 AND doc_id % 3 = 0)
                  OR doc_id % 10 = 0)
       SELECT r.doc_id AS base_id FROM r
       LEFT JOIN fitted f ON f.doc_id = r.doc_id
       WHERE f.doc_id IS NULL""",
    // stored-index cross Jaccard: naive all batch x base pairs with
    // exact integer jaccard — completeness theorem + save/load + the
    // probe-tighter-than-fit contract pinned by hash equality
    "q277_cross_jaccard_stored" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
               FROM w),
         sz AS (SELECT doc_id, len(sh) AS n FROM s WHERE len(sh) > 0),
         tok AS (SELECT doc_id, unnest(sh) AS tk FROM s
                 WHERE len(sh) > 0),
         inter AS (SELECT a.doc_id AS new_id, b.doc_id AS base_id,
                 count(*) AS i
           FROM tok a JOIN tok b
             ON a.tk = b.tk AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
           GROUP BY 1, 2)
       SELECT new_id, base_id, CAST(i AS BIGINT) AS n_inter,
              CAST(i * 10000 // (sa.n + sb.n - i) AS BIGINT)
                AS jaccard_bp
       FROM inter
       JOIN sz sa ON sa.doc_id = new_id
       JOIN sz sb ON sb.doc_id = base_id
       WHERE i * 10000 // (sa.n + sb.n - i) >= 9000""",
    // stored-index cross containment: naive all ordered batch x base
    // pairs with exact integer containment of the BATCH side
    "q283_cross_containment_stored" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
             FROM documents),
         s AS (SELECT doc_id, list_distinct(list_transform(
                 range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS sh
               FROM w),
         sz AS (SELECT doc_id, len(sh) AS n FROM s WHERE len(sh) > 0),
         tok AS (SELECT doc_id, unnest(sh) AS tk FROM s
                 WHERE len(sh) > 0),
         inter AS (SELECT a.doc_id AS new_id, b.doc_id AS base_id,
                 count(*) AS i
           FROM tok a JOIN tok b
             ON a.tk = b.tk AND a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
           GROUP BY 1, 2)
       SELECT new_id, base_id, CAST(i AS BIGINT) AS n_inter,
              CAST(i * 10000 // sa.n AS BIGINT) AS containment_bp
       FROM inter JOIN sz sa ON sa.doc_id = new_id
       WHERE i * 10000 // sa.n >= 8500""",
    // retraction-aware join maintenance: the maintained bag state ==
    // the value-grain recompute of the post-change join — the oracle
    // IS the recompute, duplicates and all
    "q275_retract_join" ->
      """WITH li AS (SELECT l_orderkey AS okey, l_returnflag AS flag
             FROM lineitem
             WHERE (l_orderkey % 4 <> 0 AND l_orderkey % 5 <> 0)
                OR l_orderkey % 4 = 0),
         o AS (SELECT o_orderkey AS okey, o_orderpriority AS prio
               FROM orders
               WHERE (o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0)
                  OR o_orderkey % 3 = 0)
       SELECT okey, flag, prio, CAST(count(*) AS BIGINT) AS n
       FROM li JOIN o USING (okey) GROUP BY 1, 2, 3""",
    // phantom-retraction audit: the planted Z-deletes drive their view
    // rows negative by (lineitem multiplicity) x (post-change orders
    // multiplicity) — the audit rows derived from the same arithmetic
    "q276_retract_join_audit" ->
      """WITH z AS (SELECT l_orderkey AS okey, count(*) AS cz
             FROM lineitem
             WHERE l_orderkey % 4 <> 0 AND l_orderkey % 5 = 0
             GROUP BY 1),
         op AS (SELECT o_orderkey AS okey, o_orderpriority AS prio,
                  count(*) AS cb
                FROM orders
                WHERE (o_orderkey % 3 <> 0 AND o_orderkey % 7 <> 0)
                   OR o_orderkey % 3 = 0
                GROUP BY 1, 2)
       SELECT z.okey, 'Z' AS flag, prio,
              CAST(0 AS BIGINT) AS n_state,
              CAST(-(cz * cb) AS BIGINT) AS w_delta
       FROM z JOIN op USING (okey)""",
    // phantom-delete audit: deletes exceeding state, with both counts.
    // Floor binning replayed explicitly (the q267 note).
    "q268_retract_audit" ->
      """WITH v AS (SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS c FROM events),
         e AS (SELECT event_type, event_id,
             (c - ((c % 1000) + 1000) % 1000) // 1000 AS bin FROM v),
         st AS (SELECT event_type, bin, count(*) AS n FROM e
                WHERE event_type <> 'signup' GROUP BY 1, 2),
         de AS (SELECT event_type, bin, count(*) AS n FROM e
                WHERE event_id % 5 = 0 GROUP BY 1, 2)
       SELECT d.event_type, CAST(d.bin AS BIGINT) AS bin,
              CAST(coalesce(s.n, 0) AS BIGINT) AS n_state,
              CAST(d.n AS BIGINT) AS n_deleted
       FROM de d LEFT JOIN st s
         ON s.event_type = d.event_type AND s.bin = d.bin
       WHERE d.n > coalesce(s.n, 0)""",
    // media cross near-dup over the stored index: replayed hashes,
    // batch x base brute-force hamming — save/load + banding pinned
    "q270_media_cross_neardup" ->
      """WITH pix AS (
           SELECT doc_id, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11 + 3) % 256
               ELSE ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11) % 256 END AS p
           FROM documents
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         cells AS (
           SELECT doc_id,
                  ((i // 16) // 2) * 8 + ((i % 16) // 2) AS ci,
                  sum(p) // 4 AS cv
           FROM pix GROUP BY 1, 2),
         m AS (SELECT doc_id, sum(cv) // 64 AS mean
               FROM cells GROUP BY 1),
         hsh AS (
           SELECT c.doc_id,
                  CAST(coalesce(sum(CASE WHEN ci >= 32 AND cv > mean
                    THEN (CAST(1 AS BIGINT) << (ci - 32)) END), 0)
                    AS BIGINT) AS hi,
                  CAST(coalesce(sum(CASE WHEN ci < 32 AND cv > mean
                    THEN (CAST(1 AS BIGINT) << ci) END), 0)
                    AS BIGINT) AS lo
           FROM cells c JOIN m USING (doc_id) GROUP BY 1)
       SELECT n.doc_id AS new_id, b.doc_id AS base_id,
              CAST(bit_count(xor(n.hi, b.hi)) +
                   bit_count(xor(n.lo, b.lo)) AS BIGINT) AS hamming,
              'image' AS media_kind
       FROM hsh n JOIN hsh b
         ON n.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
       WHERE bit_count(xor(n.hi, b.hi)) + bit_count(xor(n.lo, b.lo))
             <= 3""",
    // media delete path: q270's hash replay, batch x SURVIVING base
    // only (base slice minus the doc_id % 3 = 0 retractions)
    "q296_media_cross_removed" ->
      """WITH pix AS (
           SELECT doc_id, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11 + 3) % 256
               ELSE ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11) % 256 END AS p
           FROM documents
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         cells AS (
           SELECT doc_id,
                  ((i // 16) // 2) * 8 + ((i % 16) // 2) AS ci,
                  sum(p) // 4 AS cv
           FROM pix GROUP BY 1, 2),
         m AS (SELECT doc_id, sum(cv) // 64 AS mean
               FROM cells GROUP BY 1),
         hsh AS (
           SELECT c.doc_id,
                  CAST(coalesce(sum(CASE WHEN ci >= 32 AND cv > mean
                    THEN (CAST(1 AS BIGINT) << (ci - 32)) END), 0)
                    AS BIGINT) AS hi,
                  CAST(coalesce(sum(CASE WHEN ci < 32 AND cv > mean
                    THEN (CAST(1 AS BIGINT) << ci) END), 0)
                    AS BIGINT) AS lo
           FROM cells c JOIN m USING (doc_id) GROUP BY 1)
       SELECT n.doc_id AS new_id, b.doc_id AS base_id,
              CAST(bit_count(xor(n.hi, b.hi)) +
                   bit_count(xor(n.lo, b.lo)) AS BIGINT) AS hamming,
              'image' AS media_kind
       FROM hsh n JOIN hsh b
         ON n.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
            AND b.doc_id % 3 <> 0
       WHERE bit_count(xor(n.hi, b.hi)) + bit_count(xor(n.lo, b.lo))
             <= 3""",
    // media delete phantom screen: the fitted set is the whole base
    // slice (one fingerprint row per media, nulls kept), so phantoms
    // are exactly the never-fitted batch ids in the retraction set
    "q297_media_remove_phantom_audit" ->
      """SELECT doc_id AS media_id FROM documents
         WHERE doc_id % 10 = 0""",
    // video fingerprint: frame-planting rule + per-frame aHash cells
    // + truncating per-frame mean + per-bit majority vote over the
    // sampled frames (0, 2, 4, 6), assembled in pure SQL arithmetic
    "q273_video_fingerprint" ->
      """WITH pix AS (
           SELECT doc_id, fr.f, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 31 + fr.f * 41 + g.i * 17
                     + g.i * g.i * 7 + (doc_id // 2) * g.i * 13
                     + fr.f * g.i * 5
                     + (doc_id // 2 // 256) * g.i * g.i * 11 + 3) % 256
               ELSE ((doc_id // 2) * 31 + fr.f * 41 + g.i * 17
                     + g.i * g.i * 7 + (doc_id // 2) * g.i * 13
                     + fr.f * g.i * 5
                     + (doc_id // 2 // 256) * g.i * g.i * 11) % 256
             END AS p
           FROM documents
           CROSS JOIN (SELECT unnest([0, 2, 4, 6]) AS f) fr
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         cells AS (
           SELECT doc_id, f,
                  ((i // 16) // 2) * 8 + ((i % 16) // 2) AS ci,
                  sum(p) // 4 AS cv
           FROM pix GROUP BY 1, 2, 3),
         m AS (SELECT doc_id, f, sum(cv) // 64 AS mean
               FROM cells GROUP BY 1, 2),
         vote AS (
           SELECT c.doc_id, ci,
                  sum(CASE WHEN cv > mean THEN 1 ELSE 0 END) AS cnt
           FROM cells c JOIN m USING (doc_id, f) GROUP BY 1, 2)
       SELECT doc_id AS media_id, CAST(4 AS BIGINT) AS n_frames,
              CAST(coalesce(sum(CASE WHEN ci >= 32 AND cnt * 2 > 4
                THEN (CAST(1 AS BIGINT) << (ci - 32)) END), 0)
                AS BIGINT) AS vfp_hi,
              CAST(coalesce(sum(CASE WHEN ci < 32 AND cnt * 2 > 4
                THEN (CAST(1 AS BIGINT) << ci) END), 0)
                AS BIGINT) AS vfp_lo
       FROM vote GROUP BY 1""",
    // video near-dup: brute-force all-pairs hamming over the replayed
    // majority fingerprints — banding completeness by hash equality
    "q274_video_neardup" ->
      """WITH pix AS (
           SELECT doc_id, fr.f, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 31 + fr.f * 41 + g.i * 17
                     + g.i * g.i * 7 + (doc_id // 2) * g.i * 13
                     + fr.f * g.i * 5
                     + (doc_id // 2 // 256) * g.i * g.i * 11 + 3) % 256
               ELSE ((doc_id // 2) * 31 + fr.f * 41 + g.i * 17
                     + g.i * g.i * 7 + (doc_id // 2) * g.i * 13
                     + fr.f * g.i * 5
                     + (doc_id // 2 // 256) * g.i * g.i * 11) % 256
             END AS p
           FROM documents
           CROSS JOIN (SELECT unnest([0, 2, 4, 6]) AS f) fr
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         cells AS (
           SELECT doc_id, f,
                  ((i // 16) // 2) * 8 + ((i % 16) // 2) AS ci,
                  sum(p) // 4 AS cv
           FROM pix GROUP BY 1, 2, 3),
         m AS (SELECT doc_id, f, sum(cv) // 64 AS mean
               FROM cells GROUP BY 1, 2),
         vote AS (
           SELECT c.doc_id, ci,
                  sum(CASE WHEN cv > mean THEN 1 ELSE 0 END) AS cnt
           FROM cells c JOIN m USING (doc_id, f) GROUP BY 1, 2),
         hsh AS (
           SELECT doc_id,
                  CAST(coalesce(sum(CASE WHEN ci >= 32 AND cnt * 2 > 4
                    THEN (CAST(1 AS BIGINT) << (ci - 32)) END), 0)
                    AS BIGINT) AS hi,
                  CAST(coalesce(sum(CASE WHEN ci < 32 AND cnt * 2 > 4
                    THEN (CAST(1 AS BIGINT) << ci) END), 0)
                    AS BIGINT) AS lo
           FROM vote GROUP BY 1)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(bit_count(xor(a.hi, b.hi)) +
                   bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
       FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
             <= 3""",
    // video dedup capstone: replayed vote fingerprints -> brute-force
    // pairs -> recursive-CTE components -> min-id canonical
    "q279_video_dedup" ->
      """WITH RECURSIVE pix AS (
           SELECT doc_id, fr.f, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 31 + fr.f * 41 + g.i * 17
                     + g.i * g.i * 7 + (doc_id // 2) * g.i * 13
                     + fr.f * g.i * 5
                     + (doc_id // 2 // 256) * g.i * g.i * 11 + 3) % 256
               ELSE ((doc_id // 2) * 31 + fr.f * 41 + g.i * 17
                     + g.i * g.i * 7 + (doc_id // 2) * g.i * 13
                     + fr.f * g.i * 5
                     + (doc_id // 2 // 256) * g.i * g.i * 11) % 256
             END AS p
           FROM documents
           CROSS JOIN (SELECT unnest([0, 2, 4, 6]) AS f) fr
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         cells AS (
           SELECT doc_id, f,
                  ((i // 16) // 2) * 8 + ((i % 16) // 2) AS ci,
                  sum(p) // 4 AS cv
           FROM pix GROUP BY 1, 2, 3),
         m AS (SELECT doc_id, f, sum(cv) // 64 AS mean
               FROM cells GROUP BY 1, 2),
         vote AS (
           SELECT c.doc_id, ci,
                  sum(CASE WHEN cv > mean THEN 1 ELSE 0 END) AS cnt
           FROM cells c JOIN m USING (doc_id, f) GROUP BY 1, 2),
         hsh AS (
           SELECT doc_id,
                  CAST(coalesce(sum(CASE WHEN ci >= 32 AND cnt * 2 > 4
                    THEN (CAST(1 AS BIGINT) << (ci - 32)) END), 0)
                    AS BIGINT) AS hi,
                  CAST(coalesce(sum(CASE WHEN ci < 32 AND cnt * 2 > 4
                    THEN (CAST(1 AS BIGINT) << ci) END), 0)
                    AS BIGINT) AS lo
           FROM vote GROUP BY 1),
         p2 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.hi, b.hi)) +
                 bit_count(xor(a.lo, b.lo)) <= 3),
         e AS (SELECT a_id AS src, b_id AS dst FROM p2
               UNION ALL SELECT b_id, a_id FROM p2),
         reach AS (
           SELECT src AS id, src AS r FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
       SELECT d.doc_id AS media_id,
              coalesce(c.cluster, d.doc_id) AS canonical_id,
              d.doc_id = coalesce(c.cluster, d.doc_id) AS is_kept
       FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""",
    // image dedup capstone: replayed hashes -> brute-force pairs ->
    // recursive-CTE components -> min-id canonical, singletons self
    "q266_image_dedup" ->
      """WITH RECURSIVE pix AS (
           SELECT doc_id, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11 + 3) % 256
               ELSE ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11) % 256 END AS p
           FROM documents
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         cells AS (
           SELECT doc_id,
                  ((i // 16) // 2) * 8 + ((i % 16) // 2) AS ci,
                  sum(p) // 4 AS cv
           FROM pix GROUP BY 1, 2),
         m AS (SELECT doc_id, sum(cv) // 64 AS mean
               FROM cells GROUP BY 1),
         hsh AS (
           SELECT c.doc_id,
                  CAST(coalesce(sum(CASE WHEN ci >= 32 AND cv > mean
                    THEN (CAST(1 AS BIGINT) << (ci - 32)) END), 0)
                    AS BIGINT) AS hi,
                  CAST(coalesce(sum(CASE WHEN ci < 32 AND cv > mean
                    THEN (CAST(1 AS BIGINT) << ci) END), 0)
                    AS BIGINT) AS lo
           FROM cells c JOIN m USING (doc_id) GROUP BY 1),
         p2 AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
           FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.hi, b.hi)) +
                 bit_count(xor(a.lo, b.lo)) <= 3),
         e AS (SELECT a_id AS src, b_id AS dst FROM p2
               UNION ALL SELECT b_id, a_id FROM p2),
         reach AS (
           SELECT src AS id, src AS r FROM e
           UNION
           SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
         comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
       SELECT d.doc_id AS media_id,
              coalesce(c.cluster, d.doc_id) AS canonical_id,
              d.doc_id = coalesce(c.cluster, d.doc_id) AS is_kept
       FROM documents d LEFT JOIN comp c ON c.id = d.doc_id""",
    // aHash: pixel planting rule + 2x2 integer box filter + truncating
    // mean + bit assembly replayed in pure SQL arithmetic
    "q258_ahash_decode" ->
      """WITH pix AS (
           SELECT doc_id, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11 + 3) % 256
               ELSE ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11) % 256 END AS p
           FROM documents
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         cells AS (
           SELECT doc_id,
                  ((i // 16) // 2) * 8 + ((i % 16) // 2) AS ci,
                  sum(p) // 4 AS cv
           FROM pix GROUP BY 1, 2),
         m AS (SELECT doc_id, sum(cv) // 64 AS mean
               FROM cells GROUP BY 1)
       SELECT c.doc_id AS media_id, CAST(16 AS BIGINT) AS width,
              CAST(16 AS BIGINT) AS height,
              CAST(coalesce(sum(CASE WHEN ci >= 32 AND cv > mean
                THEN (CAST(1 AS BIGINT) << (ci - 32)) END), 0)
                AS BIGINT) AS ahash_hi,
              CAST(coalesce(sum(CASE WHEN ci < 32 AND cv > mean
                THEN (CAST(1 AS BIGINT) << ci) END), 0)
                AS BIGINT) AS ahash_lo
       FROM cells c JOIN m USING (doc_id) GROUP BY 1""",
    // aHash near-dup: brute-force all-pairs hamming over the replayed
    // hashes — banding completeness proven by hash equality
    "q259_ahash_neardup" ->
      """WITH pix AS (
           SELECT doc_id, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11 + 3) % 256
               ELSE ((doc_id // 2) * 31 + g.i * 17 + g.i * g.i * 7
                     + (doc_id // 2) * g.i * 13
                     + (doc_id // 2 // 256) * g.i * g.i * 11) % 256 END AS p
           FROM documents
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         cells AS (
           SELECT doc_id,
                  ((i // 16) // 2) * 8 + ((i % 16) // 2) AS ci,
                  sum(p) // 4 AS cv
           FROM pix GROUP BY 1, 2),
         m AS (SELECT doc_id, sum(cv) // 64 AS mean
               FROM cells GROUP BY 1),
         hsh AS (
           SELECT c.doc_id,
                  CAST(coalesce(sum(CASE WHEN ci >= 32 AND cv > mean
                    THEN (CAST(1 AS BIGINT) << (ci - 32)) END), 0)
                    AS BIGINT) AS hi,
                  CAST(coalesce(sum(CASE WHEN ci < 32 AND cv > mean
                    THEN (CAST(1 AS BIGINT) << ci) END), 0)
                    AS BIGINT) AS lo
           FROM cells c JOIN m USING (doc_id) GROUP BY 1)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(bit_count(xor(a.hi, b.hi)) +
                   bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
       FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
             <= 3""",
    // audio energy hash: sample planting rule + 4-sample frame
    // energies + truncating mean + bit assembly in pure SQL
    "q260_audio_fingerprint" ->
      """WITH smp AS (
           SELECT doc_id, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 37 + g.i * 13 + g.i * g.i * 3
                     + (doc_id // 2) * g.i * 7
                     + (doc_id // 2 // 2001) * g.i * 19 + 50) % 2001 - 1000
               ELSE ((doc_id // 2) * 37 + g.i * 13 + g.i * g.i * 3
                     + (doc_id // 2) * g.i * 7
                     + (doc_id // 2 // 2001) * g.i * 19) % 2001 - 1000 END AS s
           FROM documents
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         fr AS (SELECT doc_id, i // 4 AS f, sum(s * s) // 4 AS e
                FROM smp GROUP BY 1, 2),
         m AS (SELECT doc_id, sum(e) // 64 AS mean FROM fr GROUP BY 1)
       SELECT fr.doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate,
              CAST(256 AS BIGINT) AS n_samples,
              CAST(coalesce(sum(CASE WHEN f >= 32 AND e > mean
                THEN (CAST(1 AS BIGINT) << (f - 32)) END), 0)
                AS BIGINT) AS fp_hi,
              CAST(coalesce(sum(CASE WHEN f < 32 AND e > mean
                THEN (CAST(1 AS BIGINT) << f) END), 0)
                AS BIGINT) AS fp_lo
       FROM fr JOIN m USING (doc_id) GROUP BY 1""",
    // audio near-dup: brute-force all-pairs hamming over the replayed
    // fingerprints — banding completeness proven by hash equality
    "q261_audio_neardup" ->
      """WITH smp AS (
           SELECT doc_id, g.i,
             CASE WHEN doc_id % 2 = 1 AND g.i = (doc_id // 2) % 256
               THEN ((doc_id // 2) * 37 + g.i * 13 + g.i * g.i * 3
                     + (doc_id // 2) * g.i * 7
                     + (doc_id // 2 // 2001) * g.i * 19 + 50) % 2001 - 1000
               ELSE ((doc_id // 2) * 37 + g.i * 13 + g.i * g.i * 3
                     + (doc_id // 2) * g.i * 7
                     + (doc_id // 2 // 2001) * g.i * 19) % 2001 - 1000 END AS s
           FROM documents
           CROSS JOIN (SELECT unnest(range(0, 256)) AS i) g),
         fr AS (SELECT doc_id, i // 4 AS f, sum(s * s) // 4 AS e
                FROM smp GROUP BY 1, 2),
         m AS (SELECT doc_id, sum(e) // 64 AS mean FROM fr GROUP BY 1),
         hsh AS (
           SELECT fr.doc_id,
                  CAST(coalesce(sum(CASE WHEN f >= 32 AND e > mean
                    THEN (CAST(1 AS BIGINT) << (f - 32)) END), 0)
                    AS BIGINT) AS hi,
                  CAST(coalesce(sum(CASE WHEN f < 32 AND e > mean
                    THEN (CAST(1 AS BIGINT) << f) END), 0)
                    AS BIGINT) AS lo
           FROM fr JOIN m USING (doc_id) GROUP BY 1)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(bit_count(xor(a.hi, b.hi)) +
                   bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
       FROM hsh a JOIN hsh b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
             <= 3""",
    // Cohen's kappa: rater derivation + marginal chance product +
    // three truncating basis-point divisions replayed exactly
    "q262_cohen_kappa" ->
      """WITH lab AS (
           SELECT CAST(least(n_chars // 200, 3) AS VARCHAR) AS a,
                  CASE WHEN doc_id % 17 <> 0 THEN
                    CAST(least((length(text) -
                      length(replace(text, ' ', ''))) // 30, 3)
                      AS VARCHAR) END AS b
           FROM documents),
         f AS (SELECT a, b FROM lab
               WHERE a IS NOT NULL AND b IS NOT NULL),
         conf AS (SELECT a, b, count(*) AS n FROM f GROUP BY 1, 2),
         na AS (SELECT a AS k, sum(n) AS na FROM conf GROUP BY 1),
         nb AS (SELECT b AS k, sum(n) AS nb FROM conf GROUP BY 1),
         pe AS (SELECT coalesce(sum(na * nb), 0) AS pe_num
                FROM na JOIN nb USING (k)),
         tot AS (SELECT sum(n) AS n,
                   coalesce(sum(CASE WHEN a = b THEN n END), 0)
                     AS n_agree FROM conf)
       SELECT CAST(n AS BIGINT) AS n,
              CAST(n_agree AS BIGINT) AS n_agree,
              CAST(n_agree * 10000 // n AS BIGINT) AS po_bp,
              CAST(pe_num * 10000 // (n * n) AS BIGINT) AS pe_bp,
              CAST(CASE WHEN pe_num * 10000 // (n * n) < 10000 THEN
                ((n_agree * 10000 // n) - (pe_num * 10000 // (n * n)))
                  * 10000 // (10000 - pe_num * 10000 // (n * n)) END
                AS BIGINT) AS kappa_bp
       FROM tot CROSS JOIN pe""",
    // agreement confusion matrix: labels-squared grain, NULLs dropped
    "q263_agreement_confusion" ->
      """WITH lab AS (
           SELECT CAST(least(n_chars // 200, 3) AS VARCHAR) AS a,
                  CASE WHEN doc_id % 17 <> 0 THEN
                    CAST(least((length(text) -
                      length(replace(text, ' ', ''))) // 30, 3)
                      AS VARCHAR) END AS b
           FROM documents)
       SELECT a AS label_a, b AS label_b,
              CAST(count(*) AS BIGINT) AS n
       FROM lab WHERE a IS NOT NULL AND b IS NOT NULL
       GROUP BY 1, 2""",
    // co-occurrence audit: the dropped baskets with sizes
    "q251_cooccurrence_audit" ->
      """SELECT b AS l_orderkey, CAST(n AS BIGINT) AS n_items
       FROM (SELECT l_orderkey AS b, count(DISTINCT l_partkey) AS n
             FROM lineitem GROUP BY 1)
       WHERE n > 6""",
    // exact quantile normalization: both rank windows, the integer
    // position map and the order-statistic join replayed
    "q248_quantile_norm" ->
      """WITH g AS (
           SELECT source, doc_id, n_chars,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars, doc_id) AS BIGINT) AS r,
                  CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
                    AS n_g
           FROM documents),
         p AS (
           SELECT CAST(row_number() OVER (ORDER BY n_chars, doc_id)
                    AS BIGINT) AS pos,
                  n_chars AS pv
           FROM documents),
         t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents)
       SELECT g.source, g.doc_id, g.n_chars, p.pv AS norm_value
       FROM g CROSS JOIN t
       JOIN p ON p.pos = greatest(1, (g.r * t.nn) // g.n_g)""",
    // binned quantile normalization: bin histogram, cumulative ranges
    // and the lower-edge map replayed (n_chars >= 0, so // binning
    // equals the engine's pmod floor form)
    "q249_quantile_norm_binned" ->
      """WITH b0 AS (
           SELECT n_chars // 100 AS bin, CAST(count(*) AS BIGINT) AS bn
           FROM documents GROUP BY 1),
         b AS (
           SELECT bin,
                  CAST(coalesce(sum(bn) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS cum_prev,
                  CAST(sum(bn) OVER (ORDER BY bin) AS BIGINT) AS cum
           FROM b0),
         g AS (
           SELECT source, doc_id, n_chars,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY n_chars, doc_id) AS BIGINT) AS r,
                  CAST(count(*) OVER (PARTITION BY source) AS BIGINT)
                    AS n_g
           FROM documents),
         t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents)
       SELECT g.source, g.doc_id, g.n_chars,
              CAST(b.bin * 100 AS BIGINT) AS norm_value
       FROM g CROSS JOIN t
       JOIN b ON greatest(1, (g.r * t.nn) // g.n_g) > b.cum_prev
             AND greatest(1, (g.r * t.nn) // g.n_g) <= b.cum""",
    // compaction plan: the exclusive prefix window, stripe division
    // and group rollups replayed verbatim
    "q246_compaction_plan" ->
      """WITH f AS (
           SELECT source, doc_id, CAST(n_chars AS BIGINT) AS f_bytes,
                  coalesce(sum(n_chars) OVER (PARTITION BY source
                    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) // 3000 AS grp
           FROM documents)
       SELECT source, doc_id, f_bytes, CAST(grp AS BIGINT) AS grp,
              CAST(sum(f_bytes) OVER (PARTITION BY source, grp)
                AS BIGINT) AS grp_bytes,
              CAST(count(*) OVER (PARTITION BY source, grp)
                AS BIGINT) AS grp_files
       FROM f""",
    // readability: planted punctuation, the three counters and every
    // truncating division replayed (DuckDB // ≡ Spark div, q226 pin)
    "q245_readability" ->
      """WITH p AS (
           SELECT doc_id,
                  replace(replace(coalesce(text, ''), 'table', 'table.'),
                    'query', 'query?') AS text
           FROM documents),
         c AS (
           SELECT doc_id,
                  greatest(len(list_filter(
                    regexp_split_to_array(text, '\s+'), w -> w <> '')),
                    1) AS n_words,
                  greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS n_sents,
                  len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS n_syll
           FROM p)
       SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
              CAST(n_sents AS BIGINT) AS n_sents,
              CAST(n_syll AS BIGINT) AS n_syll,
              CAST(10000 * n_words // n_sents AS BIGINT) AS wps_bp,
              CAST(10000 * n_syll // n_words AS BIGINT) AS spw_bp,
              CAST(206835 - 1015 * n_words // n_sents
                - 84600 * n_syll // n_words AS BIGINT) AS fre_milli
       FROM c""",
    // l-diversity: grouping + distinct-count + threshold replayed
    // (lang is never NULL in the fixture, so count(DISTINCT) suffices;
    // the NULL-counts-as-a-value rule is OpsSpec-pinned)
    "q243_l_diversity" ->
      """SELECT source, n_chars // 200 AS size_band,
              CAST(count(*) AS BIGINT) AS n,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_sensitive,
              count(DISTINCT lang) < 3 AS at_risk
       FROM documents GROUP BY source, n_chars // 200""",
    // Cavnar–Trenkle: planting, trigrams, both rank windows, the
    // penalty-50 out-of-place distance, the (dist, lang) argmin
    "q166_lang_id_model" -> langIdOracle(docM = 30),
    // the stored-model production sibling: identical replay at docM=25
    // (the artifact is exact, so SQL refits; the hash-match proves the
    // save/load round-trip preserved every (lang, gram, rank) row)
    "q208_lang_id_stored" -> langIdOracle(docM = 25),
    // stored phrase: same replay at the 2-term prefix — decoys match
    "q232_phrase_stored" ->
      """WITH pl AS (SELECT doc_id, COALESCE(text, '')
             || CASE WHEN doc_id % 9 = 0 THEN ' alpha beta gamma'
                  ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' alpha beta'
                  ELSE '' END
             || CASE WHEN doc_id % 27 = 0 THEN ' alpha beta gamma'
                  ELSE '' END AS t
           FROM documents),
         tok AS (SELECT doc_id, regexp_split_to_array(
             regexp_replace(t, '^\s+|\s+$', '', 'g'), '\s+') AS a
           FROM pl),
         p AS (SELECT doc_id, unnest(range(1, len(a) + 1)) AS i, a
           FROM tok)
       SELECT doc_id AS d_id, CAST(i - 1 AS BIGINT) AS pos
       FROM p
       WHERE i + 1 <= len(a)
         AND a[CAST(i AS INT)] = 'alpha'
         AND a[CAST(i + 1 AS INT)] = 'beta'""",
    // wav header decode: the oracle replays the planting rule — rate,
    // exact duration and the 44-byte-header + 2-bytes-per-frame layout
    "q233_wav_header_decode" ->
      """SELECT doc_id AS media_id,
              CAST(44 + 2 * ((doc_id % 10 + 1)
                * ((8000 * (1 + doc_id % 4)) // 100)) AS BIGINT)
                AS n_bytes,
              CAST(8000 * (1 + doc_id % 4) AS BIGINT) AS sample_rate,
              CAST((doc_id % 10 + 1) * 10 AS BIGINT) AS duration_ms
       FROM documents""",
    // overlap join: the oracle is the NAIVE range join — agreement
    // proves the grid-cell + anchor-cell machinery adds and drops
    // nothing (epoch_us(ts) ≡ Spark's unix_micros on [us] parquet)
    "q241_overlap_join" ->
      """WITH a AS (
           SELECT event_id AS a_id, epoch_us(ts) AS a_start,
                  epoch_us(ts) + (event_id % 50 + 1) * 60000000 AS a_end
           FROM events WHERE event_id % 3 = 0),
         b AS (
           SELECT event_id AS b_id, epoch_us(ts) AS b_start,
                  epoch_us(ts) + (event_id % 40 + 2) * 60000000 AS b_end
           FROM events WHERE event_id % 3 = 1)
       SELECT a_id, b_id,
              CAST(least(a_end, b_end) - greatest(a_start, b_start)
                AS BIGINT) AS overlap_us
       FROM a JOIN b ON a_start < b_end AND b_start < a_end""",
    // ranking metrics: planting + window + every basis-point formula
    // replayed; DuckDB // ≡ Spark div on non-negative ints throughout
    "q240_ranking_metrics" ->
      """WITH run AS (
           SELECT doc_id % 20 AS query_id, doc_id,
                  (doc_id * 7919) % 1000 AS score,
                  CAST(row_number() OVER (PARTITION BY doc_id % 20
                    ORDER BY (doc_id * 7919) % 1000 DESC, doc_id ASC)
                    AS BIGINT) AS rank
           FROM documents),
         qrels AS (
           SELECT doc_id % 20 AS query_id, doc_id FROM documents
           WHERE doc_id % 7 < 2),
         judged AS (
           SELECT r.query_id, r.rank,
                  CASE WHEN q.doc_id IS NULL THEN 0 ELSE 1 END AS rel
           FROM run r LEFT JOIN qrels q
             ON r.query_id = q.query_id AND r.doc_id = q.doc_id
           WHERE r.rank <= 10),
         cum AS (
           SELECT query_id, rank, rel,
                  sum(rel) OVER (PARTITION BY query_id ORDER BY rank)
                    AS relcount
           FROM judged),
         agg AS (
           SELECT query_id,
                  CAST(sum(rel) AS BIGINT) AS hits_at_k,
                  min(CASE WHEN rel = 1 THEN rank END) AS first_rel,
                  CAST(coalesce(sum(CASE WHEN rel = 1
                    THEN 10000 * relcount // rank END), 0) AS BIGINT)
                    AS ap_num
           FROM cum GROUP BY query_id),
         nrel AS (
           SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
           FROM qrels GROUP BY query_id)
       SELECT a.query_id, n.n_rel, a.hits_at_k,
              CAST(10000 * a.hits_at_k // 10 AS BIGINT) AS p_at_k_bp,
              CAST(10000 * a.hits_at_k // n.n_rel AS BIGINT) AS r_at_k_bp,
              CAST(coalesce(10000 // a.first_rel, 0) AS BIGINT) AS rr_bp,
              CAST(a.ap_num // n.n_rel AS BIGINT) AS ap_bp
       FROM agg a JOIN nrel n ON a.query_id = n.query_id""",
    // exif orientation decode: the oracle replays the planting rule —
    // tag 0x0112 = doc_id%8+1 (endianness alternates by parity and
    // must not change the answer), q234's SOF0 dims, 73-byte layout
    "q239_exif_orientation" ->
      """SELECT doc_id AS media_id, CAST(73 AS BIGINT) AS n_bytes,
              CAST(16 + (doc_id * 3) % 512 AS BIGINT) AS width,
              CAST(16 + (doc_id * 5) % 512 AS BIGINT) AS height,
              CAST(doc_id % 8 + 1 AS BIGINT) AS orientation
       FROM documents""",
    // jpeg frame-header decode: the oracle replays the planting rule —
    // SOF0 height/width and the fixed SOI+SOF0+SOS+EOI 37-byte layout
    "q234_jpeg_header_decode" ->
      """SELECT doc_id AS media_id, CAST(37 AS BIGINT) AS n_bytes,
              CAST(16 + (doc_id * 3) % 512 AS BIGINT) AS width,
              CAST(16 + (doc_id * 5) % 512 AS BIGINT) AS height
       FROM documents""",
    // mp4 container decode: planting rule — tkhd 16.16 dims, mvhd
    // ticks at timescale 1000 (= ms), fixed ftyp+moov 232-byte layout
    "q235_mp4_header_decode" ->
      """SELECT doc_id AS media_id, CAST(232 AS BIGINT) AS n_bytes,
              CAST(128 + (doc_id * 3) % 1024 AS BIGINT) AS width,
              CAST(96 + (doc_id * 7) % 512 AS BIGINT) AS height,
              CAST((doc_id % 10 + 1) * 500 AS BIGINT) AS duration_ms
       FROM documents""",
    // png header decode: the oracle replays the PLANTING rule — the
    // Spark side must get the same numbers out of real bytes through
    // the real javax.imageio decoder
    "q231_png_header_decode" ->
      """SELECT doc_id AS media_id, CAST(33 AS BIGINT) AS n_bytes,
              CAST(16 + doc_id % 256 AS BIGINT) AS width,
              CAST(16 + (doc_id * 7) % 256 AS BIGINT) AS height
       FROM documents""",
    // golden record: per-column ordered-first over
    // (has_value DESC, version DESC)
    "q230_golden_record" ->
      """WITH h AS (
           SELECT doc_id, lang, source, CAST(0 AS BIGINT) AS version
           FROM documents
           UNION ALL SELECT doc_id, NULL, source || '-v1',
             CAST(1 AS BIGINT) FROM documents WHERE doc_id % 2 = 0
           UNION ALL SELECT doc_id, 'zz', NULL, CAST(2 AS BIGINT)
           FROM documents WHERE doc_id % 3 = 0)
       SELECT doc_id,
              first(lang ORDER BY (lang IS NOT NULL) DESC, version DESC)
                AS lang,
              first(source ORDER BY (source IS NOT NULL) DESC,
                version DESC) AS source,
              CAST(count(*) AS BIGINT) AS n_versions,
              CAST(max(version) AS BIGINT) AS latest_version
       FROM h GROUP BY doc_id""",
    // phrase search: tokenization + range-indexed positions + the
    // adjacency predicate replayed directly
    "q224_phrase_search" ->
      """WITH pl AS (SELECT doc_id, COALESCE(text, '')
             || CASE WHEN doc_id % 9 = 0 THEN ' alpha beta gamma'
                  ELSE '' END
             || CASE WHEN doc_id % 13 = 0 THEN ' alpha beta'
                  ELSE '' END
             || CASE WHEN doc_id % 27 = 0 THEN ' alpha beta gamma'
                  ELSE '' END AS t
           FROM documents),
         tok AS (SELECT doc_id, regexp_split_to_array(
             regexp_replace(t, '^\s+|\s+$', '', 'g'), '\s+') AS a
           FROM pl),
         p AS (SELECT doc_id, unnest(range(1, len(a) + 1)) AS i, a
           FROM tok)
       SELECT doc_id AS d_id, CAST(i - 1 AS BIGINT) AS pos
       FROM p
       WHERE i + 2 <= len(a)
         AND a[CAST(i AS INT)] = 'alpha'
         AND a[CAST(i + 1 AS INT)] = 'beta'
         AND a[CAST(i + 2 AS INT)] = 'gamma'""",
    // referential integrity: both anti-join directions replayed
    "q225_ref_integrity" ->
      """WITH par AS (SELECT DISTINCT o_orderkey AS k FROM orders
           WHERE o_orderkey % 5 <> 0),
         cs AS (SELECT CAST(count(*) AS BIGINT) AS n_child,
             CAST(count(CASE WHEN par.k IS NULL THEN 1 END) AS BIGINT)
               AS n_orphan_child
           FROM lineitem l LEFT JOIN par ON l.l_orderkey = par.k),
         cd AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
         ps AS (SELECT CAST(count(*) AS BIGINT) AS n_parent,
             CAST(count(CASE WHEN cd.k IS NULL THEN 1 END) AS BIGINT)
               AS n_childless_parent
           FROM par LEFT JOIN cd ON par.k = cd.k)
       SELECT cs.n_child, cs.n_orphan_child, ps.n_parent,
              ps.n_childless_parent
       FROM cs CROSS JOIN ps""",
    // bloom scrub: the q45 estimator posture — the oracle pins the
    // membership cardinalities, the zero-false-negative guarantee and
    // the bounded-FPR verdict; the bloom's internal FP count is
    // deliberately absent from the output
    "q227_bloom_scrub" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_batch,
              CAST(count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS BIGINT)
                AS n_members,
              CAST(0 AS BIGINT) AS n_false_neg,
              TRUE AS fpr_ok
       FROM documents""",
    // magic sniff: class from the planting rule, bytes from
    // octet_length(encode()) — DuckDB can't slice blobs, Spark must
    // read the planted bytes back to agree
    "q228_magic_sniff" ->
      """WITH d AS (SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
               WHEN 2 THEN 'riff' ELSE 'gif' END AS format,
             4 + octet_length(encode(COALESCE(text, ''))) AS n_bytes
           FROM documents)
       SELECT format, CAST(count(*) AS BIGINT) AS n_files,
              CAST(sum(n_bytes) AS BIGINT) AS sum_bytes,
              CAST(min(n_bytes) AS BIGINT) AS min_bytes,
              CAST(max(n_bytes) AS BIGINT) AS max_bytes
       FROM d GROUP BY format""",
    // target encoding: cross-multiplied smoothing, one 6dp division
    "q211_target_encoding" ->
      """WITH d AS (SELECT source,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y FROM documents),
         s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(y) AS BIGINT) AS n_pos
               FROM d GROUP BY source),
         g AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
                      CAST(sum(y) AS BIGINT) AS p_tot FROM d)
       SELECT source, n, n_pos,
              CAST(n_pos * n_tot + 20 * p_tot AS BIGINT) AS enc_num,
              CAST(n_tot * (n + 20) AS BIGINT) AS enc_den,
              round(CAST(n_pos * n_tot + 20 * p_tot AS DOUBLE)
                / CAST(n_tot * (n + 20) AS DOUBLE), 6) AS enc
       FROM s CROSS JOIN g""",
    // group k-fold: the portable polynomial fingerprint of the salted
    // GROUP key mod k, re-derived per group
    "q212_group_kfold" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(list_reduce(
                list_prepend(CAST(0 AS BIGINT),
                  list_transform(range(1, length('fold:' || source) + 1),
                    i -> CAST(unicode(substr('fold:' || source,
                      CAST(i AS INT), 1)) AS BIGINT))),
                (a, b) -> (a*31 + b) % 1000000007) % 5 AS BIGINT) AS fold
       FROM documents GROUP BY source""",
    // percentile normalization: midrank basis points, integer div
    "q216_percentile_norm" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars, doc_id) AS rk,
             CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
           FROM documents)
       SELECT doc_id, source, n_chars,
              CAST((2 * rk - 1) * 5000 // n AS BIGINT) AS pr_bp
       FROM r""",
    // min-max scaling: per-source extremes, integer basis points
    "q217_minmax_scale" ->
      """WITH ext AS (SELECT source, min(n_chars) AS mn,
             max(n_chars) AS mx FROM documents GROUP BY source)
       SELECT d.doc_id, d.source, d.n_chars,
              CAST(CASE WHEN ext.mx = ext.mn THEN 0
                ELSE (d.n_chars - ext.mn) * 10000 // (ext.mx - ext.mn)
                END AS BIGINT) AS scaled_bp
       FROM documents d JOIN ext ON d.source = ext.source""",
    // link extraction: planting + regex + ordinality replayed
    "q161_link_extract" -> (s"""WITH lt AS ($linkTextSql),
         ls AS (SELECT doc_id,
             regexp_extract_all(txt, '(https?://\\S+)', 1) AS us
           FROM lt),
         ix AS (SELECT doc_id, unnest(range(1, len(us) + 1)) AS i, us
           FROM ls)
       SELECT doc_id, CAST(i - 1 AS INT) AS pos,
              us[CAST(i AS INT)] AS url
       FROM ix"""),
    // the full chain: extraction -> host -> registered domain -> site
    // number -> distinct edges -> 3 integer-PageRank iterations
    "q162_link_pagerank" -> pageRankOracle(3, linkEdgesSql),
    // windowed dedup: epoch-hour division + first-occurrence rank
    "q159_windowed_dedup" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
         r AS (SELECT event_id, user_id, event_type,
             ts_us // 3600000000 AS win_id,
             row_number() OVER (PARTITION BY user_id, event_type,
                 ts_us // 3600000000
               ORDER BY ts_us, event_id) AS rn
           FROM e)
       SELECT event_id, user_id, event_type, win_id
       FROM r WHERE rn = 1""",
    // balanced downsample: fingerprint rank within class, global min
    "q156_balance_classes" ->
      """WITH fp AS (SELECT doc_id, lang,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(
                 range(1, length('balance:' || COALESCE(text, '')) + 1),
                 i -> CAST(unicode(substr('balance:'
                   || COALESCE(text, ''), CAST(i AS INT), 1))
                   AS BIGINT))),
               (a, b) -> (a*31 + b) % 1000000007) AS f
           FROM documents),
         r AS (SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang
               ORDER BY f, doc_id) AS INT) AS rnk
           FROM fp),
         m AS (SELECT CAST(min(n) AS BIGINT) AS mn FROM
           (SELECT count(*) AS n FROM r GROUP BY lang))
       SELECT doc_id, lang, rnk FROM r
       WHERE rnk <= (SELECT mn FROM m)""",
    // dead-letter routing: json_valid + try_cast replay of the three
    // statuses, exact k extremes on the ok rows
    "q157_dead_letter" ->
      """WITH pl AS (SELECT event_id,
             CASE WHEN event_id % 19 = 0 THEN 'not json {'
                  WHEN event_id % 23 = 0 THEN '{"k": "oops"}'
                  ELSE props END AS p
           FROM events),
         jx AS (SELECT event_id, p,
             CASE WHEN json_valid(p) THEN p END AS pv FROM pl),
         st AS (SELECT event_id,
             CASE WHEN pv IS NULL THEN 'malformed'
                  WHEN try_cast(json_extract_string(pv, '$.k') AS INT)
                    IS NULL THEN 'bad_field'
                  ELSE 'ok' END AS status,
             try_cast(json_extract_string(pv, '$.k') AS INT) AS k
           FROM jx)
       SELECT status, CAST(count(*) AS BIGINT) AS n,
              CAST(min(k) AS BIGINT) AS min_k,
              CAST(max(k) AS BIGINT) AS max_k
       FROM st GROUP BY status""",
    // forget-list propagation: membership counts per table + the
    // post-scrub re-audit (0 deleted, 0 keys hit)
    "q154_forget_audit" ->
      """WITH fg AS (SELECT DISTINCT user_id FROM events
           WHERE user_id % 17 = 0),
         ev AS (SELECT user_id FROM events),
         dc AS (SELECT doc_id % 150 AS owner_id FROM documents),
         sc AS (SELECT user_id FROM events
           WHERE user_id NOT IN (SELECT user_id FROM fg))
       SELECT 'events' AS table_name,
              CAST(count(*) AS BIGINT) AS n_before,
              CAST(count(CASE WHEN user_id IN
                (SELECT user_id FROM fg) THEN 1 END) AS BIGINT)
                AS n_deleted,
              CAST(count(*) - count(CASE WHEN user_id IN
                (SELECT user_id FROM fg) THEN 1 END) AS BIGINT)
                AS n_after,
              CAST(count(DISTINCT CASE WHEN user_id IN
                (SELECT user_id FROM fg) THEN user_id END) AS BIGINT)
                AS n_keys_hit
       FROM ev
       UNION ALL
       SELECT 'documents', CAST(count(*) AS BIGINT),
              CAST(count(CASE WHEN owner_id IN
                (SELECT user_id FROM fg) THEN 1 END) AS BIGINT),
              CAST(count(*) - count(CASE WHEN owner_id IN
                (SELECT user_id FROM fg) THEN 1 END) AS BIGINT),
              CAST(count(DISTINCT CASE WHEN owner_id IN
                (SELECT user_id FROM fg) THEN owner_id END) AS BIGINT)
       FROM dc
       UNION ALL
       SELECT 'events_scrubbed', CAST(count(*) AS BIGINT),
              CAST(0 AS BIGINT), CAST(count(*) AS BIGINT),
              CAST(0 AS BIGINT)
       FROM sc""",
    // chat spans: token arithmetic + strictly-before ROWS running sum
    "q151_chat_spans" -> (turnParseCtes +
      """,
         tk AS (SELECT doc_id, turn_idx, role,
             CASE WHEN length(body) = 0 THEN 0
                  ELSE len(regexp_split_to_array(regexp_replace(body,
                    '^\s+|\s+$', '', 'g'), '\s+')) END + 2 AS tok_len
           FROM pr),
         sp AS (SELECT doc_id, turn_idx, role, tok_len,
             COALESCE(sum(tok_len) OVER (PARTITION BY doc_id
                 ORDER BY turn_idx ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS tok_start
           FROM tk)
       SELECT doc_id, turn_idx, role,
              CAST(tok_start AS BIGINT) AS tok_start,
              CAST(tok_start + tok_len AS BIGINT) AS tok_end,
              role = 'Assistant' AS is_target
       FROM sp"""),
    // preference pairs: both-end rank-1 picks under (score, id) order,
    // strict-margin cut, all-equal pools dropped
    "q152_preference_pairs" ->
      """WITH pool AS (SELECT doc_id // 4 AS prompt_id, doc_id,
             CAST(CASE WHEN (doc_id // 4) % 10 = 0 THEN 5
                  ELSE n_chars % 7 END AS BIGINT) AS score
           FROM documents),
         ch AS (SELECT prompt_id, doc_id AS chosen_id,
             score AS chosen_score,
             row_number() OVER (PARTITION BY prompt_id
               ORDER BY score DESC, doc_id DESC) AS rn
           FROM pool),
         rj AS (SELECT prompt_id, doc_id AS rejected_id,
             score AS rejected_score,
             row_number() OVER (PARTITION BY prompt_id
               ORDER BY score ASC, doc_id ASC) AS rn
           FROM pool),
         pn AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS pool_n
           FROM pool GROUP BY prompt_id)
       SELECT c.prompt_id, chosen_id, rejected_id, chosen_score,
              rejected_score, chosen_score - rejected_score AS margin,
              pool_n
       FROM ch c
       JOIN rj r ON c.prompt_id = r.prompt_id AND r.rn = 1
       JOIN pn ON pn.prompt_id = c.prompt_id
       WHERE c.rn = 1 AND chosen_score > rejected_score""",
    // turn parse: planting, split-with-ordinality, anchored role
    // regex + prefix strip all replayed
    "q149_parse_turns" -> (turnParseCtes +
      "\n       SELECT doc_id, turn_idx, role, body FROM pr"),
    // loss mask: parse + per-dialogue token counts + 4dp ratio
    "q150_loss_mask" -> (turnParseCtes +
      """,
         tk AS (SELECT doc_id, role,
             CASE WHEN length(body) = 0 THEN 0
                  ELSE len(regexp_split_to_array(regexp_replace(body,
                    '^\s+|\s+$', '', 'g'), '\s+')) END AS toks
           FROM pr)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_turns,
              CAST(count(CASE WHEN role = 'Assistant' THEN 1 END)
                AS BIGINT) AS n_target_turns,
              CAST(sum(toks) AS BIGINT) AS n_tokens,
              CAST(COALESCE(sum(CASE WHEN role = 'Assistant'
                THEN toks END), 0) AS BIGINT) AS n_target_tokens,
              CASE WHEN sum(toks) = 0 THEN 0.0
                   ELSE round(CAST(COALESCE(sum(CASE WHEN role =
                     'Assistant' THEN toks END), 0) AS DOUBLE)
                     / CAST(sum(toks) AS DOUBLE), 4) END AS mask_ratio
       FROM tk GROUP BY doc_id"""),
    // schema evolution: union with explicit NULL padding replayed
    "q147_schema_evolution" ->
      """WITH v1 AS (SELECT 'v1' AS ver, doc_id, source, lang, text,
             CAST(NULL AS INT) AS n_tokens FROM documents),
         v2 AS (SELECT 'v2' AS ver, doc_id + 1000000 AS doc_id, source,
             CAST(NULL AS VARCHAR) AS lang, text,
             CAST(len(string_split(COALESCE(text, ''), ' ')) AS INT)
               AS n_tokens
           FROM documents),
         u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
       SELECT ver, CAST(count(*) AS BIGINT) AS n,
              CAST(count(lang) AS BIGINT) AS n_lang,
              CAST(count(n_tokens) AS BIGINT) AS n_tok
       FROM u GROUP BY ver""",
    // embargo split: CASE on exact micros, per-bucket extrema are the
    // no-overlap evidence
    "q148_time_embargo" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
         s AS (SELECT user_id, ts_us,
             CASE WHEN ts_us <= 1705276800000000 THEN 'train'
                  WHEN ts_us <= 1705276800000000 + 172800000000
                    THEN 'embargo'
                  ELSE 'test' END AS split
           FROM e)
       SELECT split, CAST(count(*) AS BIGINT) AS n,
              min(ts_us) AS min_ts_us, max(ts_us) AS max_ts_us,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       FROM s GROUP BY split""",
    // zone pruning soundness: the oracle is the PLAIN range filter —
    // equality proves no row was lost to a skipped shard
    "q146_zone_prune" ->
      """SELECT doc_id // 64 AS shard, CAST(count(*) AS BIGINT) AS n,
              min(doc_id) AS lo_id, max(doc_id) AS hi_id
       FROM documents WHERE doc_id BETWEEN 100 AND 199
       GROUP BY doc_id // 64""",
    // manifest + verify: both manifests rebuilt with the portable
    // fingerprint replay + bit_xor, full-join verdicts replayed
    "q145_export_manifest" ->
      """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
             COALESCE(text, '') AS t FROM documents),
         fp AS (SELECT doc_id, shard, t,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length('manifest:' || t) + 1),
                 i -> CAST(unicode(substr('manifest:' || t,
                   CAST(i AS INT), 1)) AS BIGINT))),
               (a, b) -> (a*31 + b) % 1000000007) AS f
           FROM d),
         man AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
             min(doc_id) AS min_id, max(doc_id) AS max_id,
             bit_xor(f) AS checksum,
             CAST(sum(length(t)) AS BIGINT) AS n_chars
           FROM fp GROUP BY shard),
         td AS (SELECT doc_id, shard,
             CASE WHEN doc_id = 42 THEN t || ' TAMPERED' ELSE t END AS t
           FROM d WHERE doc_id <> 7),
         tfp AS (SELECT doc_id, shard, t,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length('manifest:' || t) + 1),
                 i -> CAST(unicode(substr('manifest:' || t,
                   CAST(i AS INT), 1)) AS BIGINT))),
               (a, b) -> (a*31 + b) % 1000000007) AS f
           FROM td),
         tman AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_rows,
             min(doc_id) AS min_id, max(doc_id) AS max_id,
             bit_xor(f) AS checksum,
             CAST(sum(length(t)) AS BIGINT) AS n_chars
           FROM tfp GROUP BY shard)
       SELECT COALESCE(a.shard, e.shard) AS shard,
              a.shard IS NOT NULL AS in_copy,
              e.shard IS NOT NULL AS in_manifest,
              COALESCE(a.n_rows = e.n_rows, false) AS rows_ok,
              COALESCE(a.min_id = e.min_id AND a.max_id = e.max_id,
                false) AS zone_ok,
              COALESCE(a.checksum = e.checksum, false) AS checksum_ok,
              COALESCE(a.n_chars = e.n_chars, false) AS chars_ok
       FROM tman a FULL JOIN man e ON a.shard = e.shard""",
    // equi-width histograms: the identical left-to-right IEEE binning
    // formula, under/overflow bins, right-inclusive top edge
    "q143_histogram" ->
      """WITH qb AS (SELECT CASE WHEN l_quantity < 5.0 THEN -1
                 WHEN l_quantity > 45.0 THEN 20
                 ELSE least(greatest(CAST(floor(
                   (l_quantity - 5.0) * 20 / (45.0 - 5.0)) AS BIGINT),
                   0), 19) END AS bin
           FROM lineitem WHERE l_quantity IS NOT NULL),
         qh AS (SELECT bin, CAST(count(*) AS BIGINT) AS n
                FROM qb GROUP BY bin),
         tb AS (SELECT CASE WHEN o_totalprice < 0.0 THEN -1
                 WHEN o_totalprice > 100000.0 THEN 7
                 ELSE least(greatest(CAST(floor(
                   (o_totalprice - 0.0) * 7 / (100000.0 - 0.0))
                   AS BIGINT), 0), 6) END AS bin
           FROM orders WHERE o_totalprice IS NOT NULL),
         th AS (SELECT bin, CAST(count(*) AS BIGINT) AS n
                FROM tb GROUP BY bin)
       SELECT 'qty' AS metric, bin,
              CASE WHEN bin >= 0 AND bin < 20
                THEN 5.0 + bin * ((45.0 - 5.0) / 20) END AS bin_lo,
              CASE WHEN bin >= 0 AND bin < 20
                THEN 5.0 + (bin + 1) * ((45.0 - 5.0) / 20) END AS bin_hi,
              n FROM qh
       UNION ALL
       SELECT 'totalprice', bin,
              CASE WHEN bin >= 0 AND bin < 7
                THEN 0.0 + bin * ((100000.0 - 0.0) / 7) END,
              CASE WHEN bin >= 0 AND bin < 7
                THEN 0.0 + (bin + 1) * ((100000.0 - 0.0) / 7) END,
              n FROM th""",
    // blocked edit-distance join: oracle is the UNBLOCKED all-pairs
    // levenshtein per source — hash-match proves lossless blocking
    "q141_edit_distance" ->
      """WITH tl AS (SELECT doc_id, source,
           substr(regexp_replace(text, '\s+', ' ', 'g'), 1, 40) AS t
         FROM documents),
         titles AS (
           SELECT doc_id AS id, source, t FROM tl
           UNION ALL
           SELECT doc_id + 500000, source,
                  substr(t, 1, (doc_id % 15 + 2) - 1)
                  || substr(t, doc_id % 15 + 3, 100)
           FROM tl WHERE doc_id % 9 = 0
           UNION ALL
           SELECT doc_id + 800000, source,
                  substr(t, 1, doc_id % 10 + 3) || 'x'
                  || substr(t, doc_id % 10 + 4, 100)
           FROM tl WHERE doc_id % 12 = 0)
       SELECT a.id AS id_a, b.id AS id_b,
              CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist
       FROM titles a JOIN titles b
         ON a.source = b.source AND a.id < b.id
       WHERE levenshtein(a.t, b.t) <= 2""",
    // SCD2: 5-wave history replayed — tie-rank dedup (delete wins),
    // lead() intervals, tombstones close but never appear, revive gap
    "q140_scd_intervals" -> (q140HistCtes +
      """
         ded AS (SELECT *, row_number() OVER (
             PARTITION BY doc_id, version
             ORDER BY CASE WHEN deleted THEN 1 ELSE 0 END DESC) AS rn
           FROM hist),
         ev AS (SELECT doc_id, source, text, version, deleted
           FROM ded WHERE rn = 1),
         iv AS (SELECT doc_id, source, text, version AS valid_from,
             deleted,
             lead(version) OVER (PARTITION BY doc_id
                                 ORDER BY version) AS valid_to
           FROM ev)
       SELECT doc_id, source, text, valid_from, valid_to,
              valid_to IS NULL AS is_current
       FROM iv WHERE NOT deleted"""),
    // HTML strip: planted wrapper rebuilt, the 7-step chain replayed
    // with RE2 regexes + literal replaces, &amp; decoded LAST
    "q139_html_extract" ->
      """WITH h AS (SELECT doc_id,
           '<html><head><title>D' || doc_id ||
           '</title><style type="text/css">p { color: red; }' || chr(10)
           || '.x{}</style>' ||
           CASE WHEN doc_id % 7 <> 0
                THEN '<script>var x = 1 < 2 && doc > 0; //' || doc_id
                     || chr(10) || '</script>' ELSE '' END ||
           '</head><body><h1>Doc ' || doc_id ||
           '</h1><!-- comment & <p>not text</p> -->' ||
           '<p>' || substr(text, 1, 80) ||
           CASE WHEN doc_id % 5 = 0 THEN '<br>line&nbsp;two'
                ELSE '' END ||
           '</p><ul><li>&amp;lt;escaped&gt;</li>' ||
           '<li>&quot;q&#39;s&quot;</li></ul>' ||
           '<div><a href="http://x/' || doc_id ||
           '">link text</a></div></body></html>' AS html
         FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(html,
           '(?is)<(script|style)\b[^>]*>.*?</(script|style)\s*>',
           '', 'g') AS t FROM h),
         s2 AS (SELECT doc_id,
           regexp_replace(t, '(?s)<!--.*?-->', '', 'g') AS t FROM s1),
         s3 AS (SELECT doc_id, regexp_replace(t,
           '(?i)<br\s*/?>|</(p|div|li|h[1-6]|tr)\s*>', chr(10), 'g')
           AS t FROM s2),
         s4 AS (SELECT doc_id,
           regexp_replace(t, '<[^>]+>', '', 'g') AS t FROM s3),
         s5 AS (SELECT doc_id,
           replace(replace(replace(replace(replace(replace(t,
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
           FROM s4),
         s6 AS (SELECT doc_id,
           regexp_replace(t, '[ ' || chr(9) || ']+', ' ', 'g') AS t
           FROM s5),
         s7 AS (SELECT doc_id, list_aggr(list_filter(list_transform(
             string_split(t, chr(10)), x -> trim(x)),
             x -> length(x) > 0), 'string_agg', chr(10)) AS clean_text
           FROM s6)
       SELECT doc_id, clean_text,
              CAST(length(string_split(clean_text, chr(10))) AS INT)
                AS n_lines
       FROM s7""",
    // Deequ-shaped validation report: every count and cross-multiplied
    // verdict replayed as plain SQL COUNT arithmetic
    "q138_validation" ->
      """WITH lt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem),
         c1 AS (SELECT CAST(COUNT(l_quantity) AS BIGINT) AS o
                FROM lineitem),
         c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS o FROM
                (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
         c4 AS (SELECT CAST(COUNT(CASE WHEN l_quantity < 1
                  OR l_quantity > 50 THEN 1 END) AS BIGINT) AS o
                FROM lineitem),
         c5 AS (SELECT CAST(COUNT(CASE WHEN l_quantity < 1
                  OR l_quantity > 10 THEN 1 END) AS BIGINT) AS o
                FROM lineitem),
         c6 AS (SELECT CAST(COUNT(CASE WHEN l_returnflag
                  NOT IN ('R','A','N') THEN 1 END) AS BIGINT) AS o
                FROM lineitem),
         c7 AS (SELECT CAST(COUNT(CASE WHEN l_linestatus
                  NOT IN ('O') THEN 1 END) AS BIGINT) AS o
                FROM lineitem),
         r1o AS (SELECT CAST(COUNT(*) AS BIGINT) AS o FROM lineitem
                 WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN
                   (SELECT o_orderkey FROM orders)),
         r1t AS (SELECT CAST(COUNT(l_orderkey) AS BIGINT) AS n
                 FROM lineitem),
         r2o AS (SELECT CAST(COUNT(*) AS BIGINT) AS o FROM lineitem
                 WHERE l_partkey IS NOT NULL AND l_partkey NOT IN
                   (SELECT p_partkey FROM part WHERE p_partkey % 2 = 0)),
         r2t AS (SELECT CAST(COUNT(l_partkey) AS BIGINT) AS n
                 FROM lineitem),
         ot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
         ou AS (SELECT CAST(COUNT(*) AS BIGINT) AS o FROM
                (SELECT DISTINCT o_orderkey FROM orders)),
         dt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         d1 AS (SELECT CAST(COUNT(CASE WHEN doc_id % 13 = 0
                  THEN NULL ELSE text END) AS BIGINT) AS o
                FROM documents)
       SELECT 'li_qty_complete' AS check_name, 'completeness' AS kind,
              (SELECT o FROM c1) AS observed, (SELECT n FROM lt) AS total,
              (SELECT o FROM c1) * 1 >= 1 * (SELECT n FROM lt) AS passed
       UNION ALL SELECT 'li_key_unique', 'uniqueness',
              (SELECT o FROM c2), (SELECT n FROM lt),
              (SELECT o FROM c2) = (SELECT n FROM lt)
       UNION ALL SELECT 'li_qty_1_50', 'in_range',
              (SELECT o FROM c4), (SELECT n FROM lt),
              (SELECT o FROM c4) = 0
       UNION ALL SELECT 'li_qty_1_10', 'in_range',
              (SELECT o FROM c5), (SELECT n FROM lt),
              (SELECT o FROM c5) = 0
       UNION ALL SELECT 'li_flag_ran', 'accepted_values',
              (SELECT o FROM c6), (SELECT n FROM lt),
              (SELECT o FROM c6) = 0
       UNION ALL SELECT 'li_status_o', 'accepted_values',
              (SELECT o FROM c7), (SELECT n FROM lt),
              (SELECT o FROM c7) = 0
       UNION ALL SELECT 'li_size_band', 'size_between',
              (SELECT n FROM lt), (SELECT n FROM lt),
              (SELECT n FROM lt) BETWEEN 1 AND 10000000
       UNION ALL SELECT 'li_orders_fk', 'ref_integrity',
              (SELECT o FROM r1o), (SELECT n FROM r1t),
              (SELECT o FROM r1o) = 0
       UNION ALL SELECT 'li_even_parts_fk', 'ref_integrity',
              (SELECT o FROM r2o), (SELECT n FROM r2t),
              (SELECT o FROM r2o) = 0
       UNION ALL SELECT 'ord_key_unique', 'uniqueness',
              (SELECT o FROM ou), (SELECT n FROM ot),
              (SELECT o FROM ou) = (SELECT n FROM ot)
       UNION ALL SELECT 'doc_text_90', 'completeness',
              (SELECT o FROM d1), (SELECT n FROM dt),
              (SELECT o FROM d1) * 10 >= 9 * (SELECT n FROM dt)
       UNION ALL SELECT 'doc_text_95', 'completeness',
              (SELECT o FROM d1), (SELECT n FROM dt),
              (SELECT o FROM d1) * 20 >= 19 * (SELECT n FROM dt)""",
    "q21_dedup_keyed" ->
      """SELECT user_id, event_type, min(event_id) AS first_event_id,
                CAST(count(*) AS BIGINT) AS n_dups
         FROM events GROUP BY user_id, event_type""",
    "q22_dedup_text_exact" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(DISTINCT lower(trim(text))) AS BIGINT) AS n_unique
         FROM documents""",
    "q23_neardup_minhash" -> (shingleCte +
      """ SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(a.sh || b.sh)), 4) AS jacc
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE len(a.sh) > 0 AND len(b.sh) > 0
           AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(a.sh || b.sh)) >= 0.5"""),
    "q24_neardup_simhash" -> (shingleCte +
      """, g AS (SELECT doc_id,
               list_transform(sh, sg -> list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length(sg)+1),
                     i -> CAST(unicode(substr(sg, CAST(i AS INT), 1))
                       AS BIGINT))),
                 (a, b) -> (a*31 + b) % 1000000007)) AS gs
             FROM s WHERE len(sh) > 0),
       h AS (SELECT doc_id,
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(0, 56),
                   k -> CASE WHEN 2*len(list_filter(gs,
                          x -> ((x*(k*2+3) + k) % 1000000007) & 1 = 1))
                          > len(gs)
                        THEN (CAST(1 AS BIGINT) << CAST(k AS INT))
                        ELSE 0 END)),
                 (a, b) -> a + b) AS simh
             FROM g)
       SELECT a.doc_id AS a_id, b.doc_id AS b_id,
              CAST(bit_count(xor(a.simh, b.simh)) AS INT) AS ham
       FROM h a JOIN h b ON a.doc_id < b.doc_id
       WHERE bit_count(xor(a.simh, b.simh)) <= 3"""),
    "q25_text_stats" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                  AS sum_tokens,
                CAST(sum(length(text)) AS BIGINT) AS sum_chars,
                min(len(string_split(text, ' '))) AS min_tokens,
                max(len(string_split(text, ' '))) AS max_tokens,
                round(avg(round((
                  least(CAST(len(string_split(text, ' ')) AS DOUBLE)/50.0, 1.0)
                  + least(CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','an','of','and','is','to')))
                      AS DOUBLE)
                    / greatest(len(string_split(text, ' ')), 1) * 5.0, 1.0)
                  ) / 2.0, 4)), 4) AS avg_quality
         FROM documents GROUP BY source""",
    "q26_langid" ->
      """SELECT lang,
                CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]')
                       THEN 'zh'
                     WHEN CAST(len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','an','of','and','is','to')))
                         AS DOUBLE)
                       / greatest(len(string_split(text, ' ')), 1) >= 0.05
                       THEN 'en'
                     ELSE 'unk' END AS pred,
                CAST(count(*) AS BIGINT) AS n
         FROM documents GROUP BY 1, 2""",
    "q27_fingerprint" ->
      """SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(text)+1),
                      i -> CAST(unicode(substr(text, CAST(i AS INT), 1))
                        AS BIGINT))),
                  (a, b) -> (a*31 + b) % 1000000007) AS fp
         FROM documents""",
    "q55_dataset_split" ->
      """SELECT doc_id,
                CASE WHEN fp % 100 < 80 THEN 'train'
                     WHEN fp % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id,
                      list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(range(1, length(text)+1),
                            i -> CAST(unicode(substr(text, CAST(i AS INT), 1))
                              AS BIGINT))),
                        (a, b) -> (a*31 + b) % 1000000007) AS fp
               FROM documents) t""",
    "q57_contamination" -> (shingleCte +
      """, d AS (SELECT s.doc_id, doc.source, unnest(s.sh) AS g
                 FROM s JOIN documents doc ON s.doc_id = doc.doc_id),
         cdf AS (SELECT g, count(*) AS df FROM d
                 WHERE source <> 'src0' GROUP BY g)
         SELECT c.doc_id, p.doc_id AS probe_id,
                CAST(count(*) AS BIGINT) AS n_shared
         FROM d c JOIN d p ON c.g = p.g JOIN cdf ON cdf.g = c.g
         WHERE p.source = 'src0' AND c.source <> 'src0'
           AND cdf.df <= 10
         GROUP BY c.doc_id, p.doc_id
         HAVING count(*) >= 2"""),
    "q61_decontaminate" -> (shingleCte +
      """, d AS (SELECT s.doc_id, doc.source, unnest(s.sh) AS g
                 FROM s JOIN documents doc ON s.doc_id = doc.doc_id),
         cdf AS (SELECT g, count(*) AS df FROM d
                 WHERE source <> 'src0' GROUP BY g),
         flagged AS (SELECT c.doc_id
                     FROM d c JOIN d p ON c.g = p.g JOIN cdf ON cdf.g = c.g
                     WHERE p.source = 'src0' AND c.source <> 'src0'
                       AND cdf.df <= 10
                     GROUP BY c.doc_id, p.doc_id
                     HAVING count(*) >= 2)
         SELECT doc_id, source FROM documents
         WHERE source <> 'src0'
           AND doc_id NOT IN (SELECT doc_id FROM flagged)"""),
    // LSH delete path: the q64 exact-Jaccard replay over the SURVIVING
    // base only (doc_id % 3 <> 0)
    "q295_cross_neardup_removed" -> (shingleCte +
      """, d AS (SELECT s.doc_id, doc.source, s.sh
                 FROM s JOIN documents doc ON s.doc_id = doc.doc_id)
         SELECT n.doc_id AS new_id, b.doc_id AS base_id,
                round(CAST(len(list_intersect(n.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(n.sh || b.sh)), 4) AS jacc
         FROM d n JOIN d b
           ON length(n.source) > 4 AND length(b.source) <= 4
             AND b.doc_id % 3 <> 0
         WHERE len(n.sh) > 0 AND len(b.sh) > 0
           AND CAST(len(list_intersect(n.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(n.sh || b.sh)) >= 0.5"""),
    "q64_incremental_dedup" -> (shingleCte +
      """, d AS (SELECT s.doc_id, doc.source, s.sh
                 FROM s JOIN documents doc ON s.doc_id = doc.doc_id)
         SELECT n.doc_id AS new_id, b.doc_id AS base_id,
                round(CAST(len(list_intersect(n.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(n.sh || b.sh)), 4) AS jacc
         FROM d n JOIN d b
           ON length(n.source) > 4 AND length(b.source) <= 4
         WHERE len(n.sh) > 0 AND len(b.sh) > 0
           AND CAST(len(list_intersect(n.sh, b.sh)) AS DOUBLE)
               / len(list_distinct(n.sh || b.sh)) >= 0.5"""),
    "q65_shuffle_shard" ->
      """WITH f AS (SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length('shard:' || text)+1),
                      i -> CAST(unicode(substr('shard:' || text,
                        CAST(i AS INT), 1)) AS BIGINT))),
                  (a, b) -> (a*31 + b) % 1000000007) AS fp
              FROM documents)
         SELECT doc_id, fp % 8 AS shard,
                row_number() OVER (PARTITION BY fp % 8
                                   ORDER BY fp, doc_id) AS pos
         FROM f""",
    "q66_pack_sequences" ->
      """WITH f AS (SELECT doc_id, text,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length('shard:' || text)+1),
                      i -> CAST(unicode(substr('shard:' || text,
                        CAST(i AS INT), 1)) AS BIGINT))),
                  (a, b) -> (a*31 + b) % 1000000007) AS fp
              FROM documents),
         g AS (SELECT doc_id, fp % 8 AS shard,
                row_number() OVER (PARTITION BY fp % 8
                                   ORDER BY fp, doc_id) AS pos,
                CAST(len(regexp_split_to_array(
                  regexp_replace(text, '^\s+|\s+$', '', 'g'),
                  '\s+')) AS BIGINT) AS n_tokens
              FROM f),
         o AS (SELECT doc_id, shard, n_tokens,
                CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
                  ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS tok_offset
              FROM g)
         SELECT doc_id, shard, n_tokens, tok_offset,
                tok_offset // 256 AS seq_first,
                (tok_offset + n_tokens - 1) // 256 AS seq_last
         FROM o""",
    "q67_split_leakage" -> (shingleCte +
      """, f AS (SELECT doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(text)+1),
                      i -> CAST(unicode(substr(text, CAST(i AS INT), 1))
                        AS BIGINT))),
                  (a, b) -> (a*31 + b) % 1000000007) % 100 AS b
              FROM documents),
         d AS (SELECT s.doc_id,
                CASE WHEN f.b < 80 THEN 'train' ELSE 'eval' END AS sp, s.sh
              FROM s JOIN f ON s.doc_id = f.doc_id)
         SELECT e.doc_id AS eval_id, t.doc_id AS train_id,
                round(CAST(len(list_intersect(e.sh, t.sh)) AS DOUBLE)
                      / len(list_distinct(e.sh || t.sh)), 4) AS jacc
         FROM d e JOIN d t ON e.sp = 'eval' AND t.sp = 'train'
         WHERE len(e.sh) > 0 AND len(t.sh) > 0
           AND CAST(len(list_intersect(e.sh, t.sh)) AS DOUBLE)
               / len(list_distinct(e.sh || t.sh)) >= 0.5"""),
    "q76_rebalance_mixture" ->
      """WITH wt AS (SELECT * FROM (VALUES ('src1', CAST(0.5 AS DOUBLE)),
                  ('src2', CAST(0.3 AS DOUBLE)),
                  ('src3', CAST(0.2 AS DOUBLE))) AS t(source, w)),
         c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
               FROM documents WHERE source IN ('src1', 'src2', 'src3')
               GROUP BY source),
         m AS (SELECT min(c.c / wt.w) AS m FROM c JOIN wt USING (source)),
         pl AS (SELECT wt.source, CAST(floor(m.m * wt.w) AS BIGINT) AS ns
                FROM wt CROSS JOIN m),
         f AS (SELECT source, doc_id,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       range(1, length('rebal:' || COALESCE(text, '')) + 1),
                       i -> CAST(unicode(substr('rebal:' || COALESCE(text, ''),
                         CAST(i AS INT), 1)) AS BIGINT))),
                   (a, b) -> (a*31 + b) % 1000000007) AS raw
               FROM documents WHERE source IN ('src1', 'src2', 'src3')),
         r AS (SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source
                   ORDER BY (raw * raw) % 1000000007, doc_id) AS rnk
               FROM f)
       SELECT r.source, r.rnk, r.doc_id
       FROM r JOIN pl USING (source) WHERE r.rnk <= pl.ns""",
    "q75_source_drift" ->
      """WITH st AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cst
                     FROM (SELECT source,
                             unnest(string_split(text, ' ')) AS term
                           FROM documents)
                     GROUP BY source, term),
         c AS (SELECT term, CAST(sum(cst) AS BIGINT) AS ct
               FROM st GROUP BY term),
         ts AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ts
                FROM st GROUP BY source),
         tc AS (SELECT CAST(sum(ct) AS DOUBLE) AS tc FROM c)
       SELECT st.source, max(ts.ts) AS n_tokens,
              round(sum(round(
                (CAST(st.cst AS DOUBLE) / ts.ts)
                  * ln((CAST(st.cst AS DOUBLE) / ts.ts)
                       / (CAST(c.ct AS DOUBLE) / tc.tc)), 9)), 4) AS kl
       FROM st JOIN c USING (term) JOIN ts USING (source) CROSS JOIN tc
       GROUP BY st.source""",
    "q74_bigram_pmi" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
         uni AS (SELECT term, CAST(count(*) AS BIGINT) AS cw FROM
                   (SELECT unnest(ws) AS term FROM w) GROUP BY term),
         nu AS (SELECT CAST(sum(cw) AS DOUBLE) AS nu FROM uni),
         p AS (SELECT ws[i] AS a, ws[i + 1] AS b
               FROM w, unnest(range(1, len(ws))) AS t(i)),
         ba AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab
                FROM p GROUP BY a, b),
         nb AS (SELECT CAST(sum(n_ab) AS DOUBLE) AS nb FROM ba),
         s AS (SELECT ba.a, ba.b, ba.n_ab,
                 round(ln((CAST(ba.n_ab AS DOUBLE) / nb.nb)
                   / ((CAST(ua.cw AS DOUBLE) / nu.nu)
                      * (CAST(ub.cw AS DOUBLE) / nu.nu))), 4) AS pmi
               FROM ba JOIN uni ua ON ba.a = ua.term
                       JOIN uni ub ON ba.b = ub.term
               CROSS JOIN nu CROSS JOIN nb
               WHERE ba.n_ab >= 5)
       SELECT a, b, n_ab, pmi FROM s ORDER BY pmi DESC, a, b LIMIT 20""",
    "q73_unigram_surprisal" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
         f AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
               FROM toks GROUP BY term),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f),
         j AS (SELECT toks.doc_id,
                 round(-ln(CAST(f.cnt AS DOUBLE) / tot.total), 9) AS nlp
               FROM toks JOIN f USING (term) CROSS JOIN tot)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              round(avg(nlp), 4) AS surprisal
       FROM j GROUP BY doc_id""",
    "q71_vocab_oov" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                       FROM documents),
         v AS (SELECT term FROM (
                 SELECT term, count(*) AS cnt FROM toks GROUP BY term
                 ORDER BY cnt DESC, term LIMIT 20) t),
         j AS (SELECT toks.doc_id,
                 CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
               FROM toks LEFT JOIN v USING (term))
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(oov) AS BIGINT) AS n_oov,
              round(CAST(sum(oov) AS DOUBLE) / count(*), 4) AS oov_frac
       FROM j GROUP BY doc_id""",
    // CAST(1.0 AS DOUBLE): a bare 1.0/(60+rnk) is DECIMAL division in
    // DuckDB — the fusion must sum doubles like Spark does
    "q72_hybrid_rrf" ->
      """WITH q AS (SELECT doc_id AS query_id,
               array_to_string(string_split(text, ' ')[1:8], ' ') AS qtext
             FROM documents WHERE source = 'src0'
             ORDER BY doc_id LIMIT 5),
         qt AS (SELECT DISTINCT query_id,
                  unnest(string_split(qtext, ' ')) AS term FROM q),
         c AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE source <> 'src0'),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                          avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM c),
         toks AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dlen,
                         unnest(ws) AS term FROM c),
         tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf,
                       max(dlen) AS dlen
                FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
                GROUP BY doc_id, term),
         dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
                 FROM tf GROUP BY term),
         sbm AS (SELECT qt.query_id, tf.doc_id,
                 round(sum(round(
                   ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dlen / stats.avgdl)),
                   9)), 4) AS bm25
               FROM tf JOIN dfq USING (term) JOIN qt USING (term)
               CROSS JOIN stats
               GROUP BY qt.query_id, tf.doc_id),
         bm AS (SELECT query_id, doc_id, rnk FROM (
                  SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY bm25 DESC, doc_id) AS rnk FROM sbm) x
                WHERE rnk <= 10),
         qe AS (SELECT q.query_id, e.embedding AS qv
                FROM q JOIN embeddings e ON e.vec_id = q.query_id),
         ce AS (SELECT e.vec_id, e.embedding FROM embeddings e
                JOIN c ON e.vec_id = c.doc_id),
         cs AS (SELECT qe.query_id, ce.vec_id AS doc_id,
                  list_cosine_similarity(CAST(qe.qv AS DOUBLE[]),
                    CAST(ce.embedding AS DOUBLE[])) AS sim
                FROM qe CROSS JOIN ce WHERE ce.vec_id <> qe.query_id),
         cr AS (SELECT query_id, doc_id, rnk FROM (
                  SELECT query_id, doc_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, doc_id) AS rnk FROM cs) x
                WHERE rnk <= 10),
         u AS (SELECT * FROM bm UNION ALL SELECT * FROM cr),
         f AS (SELECT query_id, doc_id,
                 round(sum(CAST(1.0 AS DOUBLE) / (60 + rnk)), 6) AS rrf
               FROM u GROUP BY 1, 2)
       SELECT query_id, rnk, doc_id, rrf FROM (
         SELECT query_id, doc_id, rrf,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf DESC, doc_id) AS rnk FROM f) x
       WHERE rnk <= 3""",
    // literals mirror the Scala arithmetic exactly: 2.2 == 1.2 + 1 and
    // 0.25 == 1 - 0.75 as doubles, and the contribution expression is
    // left-associated identically — the 9dp/4dp round-inside-round then
    // absorbs any last-bit summation-order drift
    "q69_bm25_retrieval" ->
      """WITH q AS (SELECT doc_id AS query_id,
               array_to_string(string_split(text, ' ')[1:8], ' ') AS qtext
             FROM documents WHERE source = 'src0'
             ORDER BY doc_id LIMIT 5),
         qt AS (SELECT DISTINCT query_id,
                  unnest(string_split(qtext, ' ')) AS term FROM q),
         c AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE source <> 'src0'),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                          avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM c),
         toks AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dlen,
                         unnest(ws) AS term FROM c),
         tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf,
                       max(dlen) AS dlen
                FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
                GROUP BY doc_id, term),
         dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
                 FROM tf GROUP BY term),
         s AS (SELECT qt.query_id, tf.doc_id,
                 round(sum(round(
                   ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dlen / stats.avgdl)),
                   9)), 4) AS bm25
               FROM tf JOIN dfq USING (term) JOIN qt USING (term)
               CROSS JOIN stats
               GROUP BY qt.query_id, tf.doc_id)
       SELECT query_id, rnk, doc_id, bm25 FROM (
         SELECT query_id, doc_id, bm25,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY bm25 DESC, doc_id) AS rnk
         FROM s) x
       WHERE rnk <= 3""",
    // the oracle is the NAIVE global per-stratum rank — no pre-filter —
    // so a hash-green row proves the operator's two-phase prune is
    // invisible to the result
    "q70_stratified_sample" ->
      """WITH f0 AS (SELECT source, doc_id,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      range(1, length('strat:' || COALESCE(text, '')) + 1),
                      i -> CAST(unicode(substr('strat:' || COALESCE(text, ''),
                        CAST(i AS INT), 1)) AS BIGINT))),
                  (a, b) -> (a*31 + b) % 1000000007) AS raw
              FROM documents),
         f AS (SELECT source, doc_id,
                 (raw * raw) % 1000000007 AS fp FROM f0),
         r AS (SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source
                   ORDER BY fp, doc_id) AS rnk
               FROM f)
       SELECT source, rnk, doc_id FROM r WHERE rnk <= 10""",
    "q68_quality_topfrac" ->
      """WITH t AS (SELECT doc_id, source,
                round((least(CAST(len(string_split(text, ' ')) AS DOUBLE)
                        / 50.0, 1.0)
                  + least(CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','an','of','and','is','to')))
                      AS DOUBLE)
                    / greatest(len(string_split(text, ' ')), 1) * 5.0, 1.0)
                  ) / 2.0, 4) AS q
              FROM documents),
         r AS (SELECT doc_id, source, q,
                row_number() OVER (PARTITION BY source
                                   ORDER BY q DESC, doc_id) AS rn,
                count(*) OVER (PARTITION BY source) AS n
              FROM t)
         SELECT doc_id, source FROM r WHERE rn <= (n * 75 + 99) // 100""",
    "q58_repetition" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
                    FROM documents),
         b AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(w)),
                   i -> w[i] || ' ' || w[i+1])) AS bg
               FROM w),
         c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY 1, 2),
         m AS (SELECT doc_id, CAST(max(cnt) AS DOUBLE) / sum(cnt) AS top2
               FROM c GROUP BY 1),
         d AS (SELECT w.doc_id, w.source,
                 1.0 - CAST(len(list_distinct(w.w)) AS DOUBLE) / len(w.w)
                   AS dupw,
                 coalesce(m.top2, 0.0) AS top2
               FROM w LEFT JOIN m ON w.doc_id = m.doc_id)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                round(avg(round(dupw, 4)), 4) AS avg_dup_word,
                round(avg(round(top2, 4)), 4) AS avg_top2gram,
                CAST(sum(CASE WHEN top2 > 0.08 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_repetitive
         FROM d GROUP BY source""",
    "q59_mixture_sample" ->
      """WITH f AS (SELECT source,
                      list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(range(1, length('mix:' || text)+1),
                            i -> CAST(unicode(substr('mix:' || text,
                              CAST(i AS INT), 1)) AS BIGINT))),
                        (a, b) -> (a*31 + b) % 1000000007) AS fp
                    FROM documents)
         SELECT source, CAST(count(*) AS BIGINT) AS n_kept
         FROM f
         WHERE fp % 100 < CASE source WHEN 'src0' THEN 25
                                      WHEN 'src1' THEN 50
                                      WHEN 'src2' THEN 75 ELSE 100 END
         GROUP BY source""",
    "q60_chunking" ->
      """WITH w AS (SELECT doc_id,
                      regexp_split_to_array(
                        regexp_replace(text, '^\s+|\s+$', '', 'g'),
                        '\s+') AS w
                    FROM documents),
         k AS (SELECT doc_id, w,
                 CASE WHEN len(w) <= 30 THEN 1
                      ELSE 1 + CAST(ceil((len(w) - 30) / 25.0) AS INT)
                 END AS nc
               FROM w)
         SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
                array_to_string(w[(i-1)*25 + 1 : (i-1)*25 + 30], ' ')
                  AS chunk_text,
                CAST(len(w[(i-1)*25 + 1 : (i-1)*25 + 30]) AS INT)
                  AS n_tokens
         FROM k, unnest(range(1, nc + 1)) AS t(i)""",
    "q29_ann_lsh" ->
      """SELECT CAST(5*count(*) AS BIGINT) AS n_results, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 10""",
    "q51_ann_ivf" ->
      """SELECT CAST(5*count(*) AS BIGINT) AS n_results, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 10""",
    "q92_ann_pq" ->
      """SELECT CAST(5*count(*) AS BIGINT) AS n_results, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 10""",
    "q95_ann_ivfpq" ->
      """SELECT CAST(5*count(*) AS BIGINT) AS n_results, TRUE AS recall_ok
         FROM embeddings WHERE vec_id < 10""",
    "q96_curriculum_shard" ->
      """WITH t AS (SELECT doc_id, text,
                round((least(CAST(len(string_split(text, ' ')) AS DOUBLE)
                        / 50.0, 1.0)
                  + least(CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','an','of','and','is','to')))
                      AS DOUBLE)
                    / greatest(len(string_split(text, ' ')), 1) * 5.0, 1.0)
                  ) / 2.0, 4) AS q
              FROM documents),
         f AS (SELECT doc_id, q,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       range(1, length('shard:' || COALESCE(text, '')) + 1),
                       i -> CAST(unicode(substr('shard:' || COALESCE(text, ''),
                         CAST(i AS INT), 1)) AS BIGINT))),
                   (a, b) -> (a*31 + b) % 1000000007) AS fp
               FROM t),
         r AS (SELECT doc_id, q, fp % 8 AS shard,
                 row_number() OVER (PARTITION BY fp % 8
                   ORDER BY q DESC NULLS LAST, fp, doc_id) AS pos
               FROM f)
       SELECT doc_id, CAST(shard AS BIGINT) AS shard,
              CAST(pos AS BIGINT) AS pos, q
       FROM r""",
    // the planted-PII construction is rebuilt byte-for-byte from doc_id,
    // then counts and the ordered redaction chain replay on DuckDB's RE2
    // (the patterns are RE2/Java-portable by design); 'g' because DuckDB
    // regexp_replace is single-match by default where Spark's is global
    "q97_pii_redact" ->
      s"""WITH b AS (SELECT doc_id,
             coalesce(text, '') || ' contact user' ||
             CAST(doc_id AS VARCHAR) || '@ex-' ||
             CAST(doc_id % 7 AS VARCHAR) || '.org call +44 20 7946 0' ||
             CAST(doc_id % 10 AS VARCHAR) || '58 or 415-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' host 10.' ||
             CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
             CAST(doc_id % 100 AS VARCHAR) || ' fetch https://bob:pw' ||
             CAST(doc_id AS VARCHAR) || '@files.example.com/x' AS ftext
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(ftext,
             '${TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(ftext,
             '${TextOps.PhonePattern}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(ftext,
             '${TextOps.IntlPhonePattern}')) AS BIGINT) AS n_intl_phones,
           CAST(len(regexp_extract_all(ftext,
             '${TextOps.Ipv4Pattern}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(ftext,
             '${TextOps.UrlCredPattern}')) AS BIGINT) AS n_url_creds,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(ftext,
               '${TextOps.UrlCredPattern}', '[URLCRED]', 'g'),
               '${TextOps.EmailPattern}', '[EMAIL]', 'g'),
               '${TextOps.Ipv4Pattern}', '[IP]', 'g'),
               '${TextOps.IntlPhonePattern}', '[PHONE]', 'g'),
               '${TextOps.PhonePattern}', '[PHONE]', 'g') AS text_redacted
         FROM b""",
    // q73's unigram model + the CCNet NTILE(3) tiling per source on the
    // already-rounded 4dp surprisal (ties to the smaller doc_id)
    "q98_perplexity_buckets" ->
      """WITH toks AS (SELECT doc_id, source,
                unnest(string_split(text, ' ')) AS term FROM documents),
         f AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
               FROM toks GROUP BY term),
         tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM f),
         j AS (SELECT toks.doc_id, toks.source,
                 round(-ln(CAST(f.cnt AS DOUBLE) / tot.total), 9) AS nlp
               FROM toks JOIN f USING (term) CROSS JOIN tot),
         d AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
                 round(avg(nlp), 4) AS surprisal
               FROM j GROUP BY doc_id, source),
         nt AS (SELECT doc_id, source, n_tokens, surprisal,
                  ntile(3) OVER (PARTITION BY source
                    ORDER BY surprisal, doc_id) AS b
                FROM d)
       SELECT doc_id, source, n_tokens, surprisal,
              CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS ppl_bucket
       FROM nt""",
    // the full A-Res replay: salted squared-ring fingerprint -> uniform
    // (fp+1)/M -> log-space priority ln(u)/w on the 4dp-rounded weight,
    // 6dp round BEFORE the (key desc, id) top-50
    "q99_weighted_sample" ->
      """WITH f0 AS (SELECT doc_id, source, text,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      range(1, length('ws:' || COALESCE(text, '')) + 1),
                      i -> CAST(unicode(substr('ws:' || COALESCE(text, ''),
                        CAST(i AS INT), 1)) AS BIGINT))),
                  (a, b) -> (a*31 + b) % 1000000007) AS raw
              FROM documents),
         f AS (SELECT doc_id, source, text,
                 (raw * raw) % 1000000007 AS fp FROM f0),
         k AS (SELECT doc_id, source, fp,
                 round(round((least(CAST(len(string_split(text, ' '))
                       AS DOUBLE) / 50.0, 1.0)
                   + least(CAST(len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','an','of','and','is','to')))
                       AS DOUBLE)
                     / greatest(len(string_split(text, ' ')), 1) * 5.0, 1.0)
                   ) / 2.0, 4) + 0.01, 4) AS w
               FROM f),
         s AS (SELECT doc_id, source, w,
                 round(ln((fp + 1) / 1000000007.0) / w, 6) AS ws_key
               FROM k)
       SELECT row_number() OVER (ORDER BY ws_key DESC, doc_id) AS rnk,
              doc_id, source, w, ws_key
       FROM s ORDER BY ws_key DESC, doc_id LIMIT 50""",
    // q99's chain under the 'wsg:' salt, ranked per source
    "q100_weighted_stratified" ->
      """WITH f0 AS (SELECT doc_id, source, text,
                list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      range(1, length('wsg:' || COALESCE(text, '')) + 1),
                      i -> CAST(unicode(substr('wsg:' || COALESCE(text, ''),
                        CAST(i AS INT), 1)) AS BIGINT))),
                  (a, b) -> (a*31 + b) % 1000000007) AS raw
              FROM documents),
         f AS (SELECT doc_id, source, text,
                 (raw * raw) % 1000000007 AS fp FROM f0),
         k AS (SELECT doc_id, source, fp,
                 round(round((least(CAST(len(string_split(text, ' '))
                       AS DOUBLE) / 50.0, 1.0)
                   + least(CAST(len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','an','of','and','is','to')))
                       AS DOUBLE)
                     / greatest(len(string_split(text, ' ')), 1) * 5.0, 1.0)
                   ) / 2.0, 4) + 0.01, 4) AS w
               FROM f),
         s AS (SELECT doc_id, source, w,
                 round(ln((fp + 1) / 1000000007.0) / w, 6) AS ws_key
               FROM k),
         r AS (SELECT source, doc_id, w, ws_key,
                 row_number() OVER (PARTITION BY source
                   ORDER BY ws_key DESC, doc_id) AS rnk
               FROM s)
       SELECT source, rnk, doc_id, w, ws_key FROM r WHERE rnk <= 10""",
    // q69's full BM25 replay, re-parameterized to q102's stored-index
    // row (src1 queries, first 6 words, non-src1 corpus, top-5): the
    // stored index is EXACT, so the oracle pins every rank and score —
    // no structural gate needed
    "q102_bm25_stored" ->
      """WITH q AS (SELECT doc_id AS query_id,
               array_to_string(string_split(text, ' ')[1:6], ' ') AS qtext
             FROM documents WHERE source = 'src1'
             ORDER BY doc_id LIMIT 5),
         qt AS (SELECT DISTINCT query_id,
                  unnest(string_split(qtext, ' ')) AS term FROM q),
         c AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE source <> 'src1'),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                          avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM c),
         toks AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dlen,
                         unnest(ws) AS term FROM c),
         tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf,
                       max(dlen) AS dlen
                FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
                GROUP BY doc_id, term),
         dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
                 FROM tf GROUP BY term),
         s AS (SELECT qt.query_id, tf.doc_id,
                 round(sum(round(
                   ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dlen / stats.avgdl)),
                   9)), 4) AS bm25
               FROM tf JOIN dfq USING (term) JOIN qt USING (term)
               CROSS JOIN stats
               GROUP BY qt.query_id, tf.doc_id)
       SELECT query_id, rnk, doc_id, bm25 FROM (
         SELECT query_id, doc_id, bm25,
                row_number() OVER (PARTITION BY query_id
                  ORDER BY bm25 DESC, doc_id) AS rnk
         FROM s) x
       WHERE rnk <= 5""",
    // full replay of the Lee et al. span pass: hv = per-token portable
    // polyhash + 1, fp = window-level fold base 1000003 (the naive
    // recompute of the engine's O(T) rolling form — PropertySpec pins
    // them identical), distinct-carrier stats with the min-id keeper,
    // gaps-and-islands merge, index-aware cut
    "q103_span_dedup" ->
      """WITH c AS (SELECT doc_id, text, string_split(text, ' ') AS ws
               FROM documents),
         hs AS (SELECT doc_id, ws,
                 list_transform(ws, t ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(t) + 1),
                       i -> CAST(unicode(substr(t, CAST(i AS INT), 1))
                         AS BIGINT))),
                     (a, b) -> (a*31 + b) % 1000000007) + 1) AS hv
                FROM c),
         occ AS (SELECT doc_id, CAST(i AS INT) AS start,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    hv[CAST(i+1 AS INT):CAST(i+15 AS INT)]),
                    (a, b) -> (a*1000003 + b) % 1000000007) AS fp
                 FROM hs, unnest(range(0, len(ws) - 15 + 1)) AS t(i)),
         st AS (SELECT fp, count(DISTINCT doc_id) AS ndocs,
                       min(doc_id) AS keeper
                FROM occ GROUP BY fp),
         fl AS (SELECT o.doc_id, o.start, o.start + 15 AS e
                FROM occ o JOIN st USING (fp)
                WHERE st.ndocs >= 2 AND o.doc_id <> st.keeper),
         isl AS (SELECT doc_id, start, e,
                  CASE WHEN start > COALESCE(max(e) OVER (
                      PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
                 FROM fl),
         isl2 AS (SELECT doc_id, start, e,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS island
                  FROM isl),
         sp AS (SELECT doc_id, min(start) AS s, max(e) AS e
                FROM isl2 GROUP BY doc_id, island),
         spd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                  list(struct_pack(s := s, e := e)) AS spans
                 FROM sp GROUP BY doc_id)
       SELECT c.doc_id,
         COALESCE(spd.n_spans, 0) AS n_spans,
         CAST(CASE WHEN spd.doc_id IS NULL THEN 0
           ELSE len(c.ws) - len(list_filter(c.ws, (t, i) ->
             len(list_filter(spd.spans,
               sp -> i - 1 >= sp.s AND i - 1 < sp.e)) = 0))
           END AS BIGINT) AS removed_tokens,
         CASE WHEN spd.doc_id IS NULL THEN c.text
           -- COALESCE: DuckDB's array_to_string is NULL on an empty
           -- list (fully-stripped doc), Spark's array_join is ''
           ELSE COALESCE(array_to_string(list_filter(c.ws, (t, i) ->
             len(list_filter(spd.spans,
               sp -> i - 1 >= sp.s AND i - 1 < sp.e)) = 0), ' '), '')
           END AS text_clean
       FROM c LEFT JOIN spd USING (doc_id)""",
    // the ingest-door variant of q103's replay: base fp SET from the
    // even-id half (the stored index's content), batch = odd ids, every
    // base-carried batch window flagged (the base is the standing
    // keeper), same island merge + cut
    "q104_cross_span_scrub" ->
      """WITH c0 AS (SELECT doc_id, text, string_split(text, ' ') AS ws
               FROM documents),
         hs AS (SELECT doc_id, ws,
                 list_transform(ws, t ->
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, length(t) + 1),
                       i -> CAST(unicode(substr(t, CAST(i AS INT), 1))
                         AS BIGINT))),
                     (a, b) -> (a*31 + b) % 1000000007) + 1) AS hv
                FROM c0),
         occ AS (SELECT doc_id, CAST(i AS INT) AS start,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    hv[CAST(i+1 AS INT):CAST(i+15 AS INT)]),
                    (a, b) -> (a*1000003 + b) % 1000000007) AS fp
                 FROM hs, unnest(range(0, len(ws) - 15 + 1)) AS t(i)),
         basefp AS (SELECT DISTINCT fp FROM occ WHERE doc_id % 2 = 0),
         fl AS (SELECT o.doc_id, o.start, o.start + 15 AS e
                FROM occ o JOIN basefp USING (fp)
                WHERE o.doc_id % 2 = 1),
         isl AS (SELECT doc_id, start, e,
                  CASE WHEN start > COALESCE(max(e) OVER (
                      PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
                 FROM fl),
         isl2 AS (SELECT doc_id, start, e,
                   sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS island
                  FROM isl),
         sp AS (SELECT doc_id, min(start) AS s, max(e) AS e
                FROM isl2 GROUP BY doc_id, island),
         spd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                  list(struct_pack(s := s, e := e)) AS spans
                 FROM sp GROUP BY doc_id)
       SELECT c.doc_id,
         COALESCE(spd.n_spans, 0) AS n_spans,
         CAST(CASE WHEN spd.doc_id IS NULL THEN 0
           ELSE len(c.ws) - len(list_filter(c.ws, (t, i) ->
             len(list_filter(spd.spans,
               sp -> i - 1 >= sp.s AND i - 1 < sp.e)) = 0))
           END AS BIGINT) AS removed_tokens,
         CASE WHEN spd.doc_id IS NULL THEN c.text
           ELSE COALESCE(array_to_string(list_filter(c.ws, (t, i) ->
             len(list_filter(spd.spans,
               sp -> i - 1 >= sp.s AND i - 1 < sp.e)) = 0), ' '), '')
           END AS text_clean
       FROM (SELECT * FROM c0 WHERE doc_id % 2 = 1) c
       LEFT JOIN spd USING (doc_id)""",
    // like q29/q51: the approximate side self-gates against the exact
    // fusion inside the query; the oracle pins the row count (top-3 per
    // query — BM25 alone supplies >= 10 candidates per query, so the
    // fusion never comes up short) and that the gate boolean is TRUE
    "q77_hybrid_ann" ->
      """SELECT CAST(3*count(*) AS BIGINT) AS n_results, TRUE AS recall_ok
         FROM (SELECT doc_id FROM documents WHERE source = 'src0'
               ORDER BY doc_id LIMIT 5) q""",
    "q81_curate_export" ->
      """WITH wt AS (SELECT * FROM (VALUES ('src1', CAST(0.5 AS DOUBLE)),
                  ('src2', CAST(0.3 AS DOUBLE)),
                  ('src3', CAST(0.2 AS DOUBLE))) AS t(source, w)),
         c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
               FROM documents WHERE source IN ('src1', 'src2', 'src3')
               GROUP BY source),
         m AS (SELECT min(c.c / wt.w) AS m FROM c JOIN wt USING (source)),
         pl AS (SELECT wt.source, CAST(floor(m.m * wt.w) AS BIGINT) AS ns
                FROM wt CROSS JOIN m),
         f AS (SELECT source, doc_id, text,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       range(1, length('rebal:' || COALESCE(text, '')) + 1),
                       i -> CAST(unicode(substr('rebal:' || COALESCE(text, ''),
                         CAST(i AS INT), 1)) AS BIGINT))),
                   (a, b) -> (a*31 + b) % 1000000007) AS raw
               FROM documents WHERE source IN ('src1', 'src2', 'src3')),
         r AS (SELECT source, doc_id, text,
                 row_number() OVER (PARTITION BY source
                   ORDER BY (raw * raw) % 1000000007, doc_id) AS rnk
               FROM f),
         kept AS (SELECT r.doc_id, r.text
                  FROM r JOIN pl USING (source) WHERE r.rnk <= pl.ns),
         sf AS (SELECT doc_id, text,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       range(1, length('shard:' || COALESCE(text, '')) + 1),
                       i -> CAST(unicode(substr('shard:' || COALESCE(text, ''),
                         CAST(i AS INT), 1)) AS BIGINT))),
                   (a, b) -> (a*31 + b) % 1000000007) AS fp
               FROM kept),
         g AS (SELECT doc_id, fp % 8 AS shard,
                row_number() OVER (PARTITION BY fp % 8
                                   ORDER BY fp, doc_id) AS pos,
                CAST(len(regexp_split_to_array(
                  regexp_replace(COALESCE(text, ''), '^\s+|\s+$', '', 'g'),
                  '\s+')) AS BIGINT) AS n_tokens
              FROM sf),
         o AS (SELECT doc_id, shard, pos, n_tokens,
                CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
                  ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS tok_offset
              FROM g)
         SELECT doc_id, shard, pos, n_tokens, tok_offset,
                tok_offset // 256 AS seq_first,
                (tok_offset + n_tokens - 1) // 256 AS seq_last
         FROM o""",
    "q78_bpe_merges" -> bpeMergesOracle(nMerges = 8, minCount = 2),
    "q79_bpe_encode" -> bpeEncodeOracle(FixedBpeMerges),
    "q93_tokenizer_fertility" -> fertilityOracle(FixedBpeMerges),
    "q94_embedding_outliers" ->
      """WITH u AS (SELECT label, vec_id, CAST(i AS INT) AS pos,
                      CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS x
                    FROM embeddings,
                         unnest(range(1, len(embedding) + 1)) AS t(i)),
         cent AS (SELECT label, list(m ORDER BY pos) AS c
                  FROM (SELECT label, pos, avg(x) AS m
                        FROM u GROUP BY label, pos)
                  GROUP BY label),
         s AS (SELECT e.label, e.vec_id,
                 list_cosine_similarity(cent.c,
                   CAST(e.embedding AS DOUBLE[])) AS cos
               FROM embeddings e JOIN cent USING (label)),
         r AS (SELECT label, vec_id, cos,
                 row_number() OVER (PARTITION BY label
                                    ORDER BY cos ASC, vec_id) AS rnk
               FROM s WHERE cos IS NOT NULL)
       SELECT label, CAST(rnk AS INT) AS rank, vec_id,
              round(cos, 4) AS cos_to_centroid
       FROM r WHERE rnk <= 5""",
    "q82_subword_pack" ->
      subwordPackOracle(nMerges = 8, minCount = 2, nShards = 8, ctx = 256),
    "q83_temperature_mix" ->
      """WITH e AS (SELECT source, doc_id, text FROM documents
               WHERE len(regexp_split_to_array(
                 regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+')) >= 60),
         c AS (SELECT source, CAST(count(*) AS BIGINT) AS c
               FROM e GROUP BY source),
         wt AS (SELECT source, sqrt(c) AS w FROM c),
         m AS (SELECT min(c.c / wt.w) AS m FROM c JOIN wt USING (source)),
         pl AS (SELECT wt.source, CAST(floor(m.m * wt.w) AS BIGINT) AS ns
                FROM wt CROSS JOIN m),
         f AS (SELECT source, doc_id,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       range(1, length('rebal:' || COALESCE(text, '')) + 1),
                       i -> CAST(unicode(substr('rebal:' || COALESCE(text, ''),
                         CAST(i AS INT), 1)) AS BIGINT))),
                   (a, b) -> (a*31 + b) % 1000000007) AS raw
               FROM e),
         r AS (SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source
                   ORDER BY (raw * raw) % 1000000007, doc_id) AS rnk
               FROM f)
       SELECT r.source, r.rnk, r.doc_id
       FROM r JOIN pl USING (source) WHERE r.rnk <= pl.ns""",
    "q84_grouped_temperature_mix" ->
      """WITH e AS (SELECT lang, source, doc_id, text FROM documents
               WHERE source IN ('src1','src2','src3') AND lang IS NOT NULL),
         c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c
               FROM e GROUP BY lang, source),
         wt AS (SELECT lang, source, c, sqrt(c) AS w FROM c),
         m AS (SELECT lang, min(c / w) AS m FROM wt GROUP BY lang),
         pl AS (SELECT wt.lang, wt.source,
                  CAST(floor(m.m * wt.w) AS BIGINT) AS ns
                FROM wt JOIN m USING (lang)),
         f AS (SELECT lang, source, doc_id,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       range(1, length('rebalg:' || COALESCE(text, '')) + 1),
                       i -> CAST(unicode(substr('rebalg:' || COALESCE(text, ''),
                         CAST(i AS INT), 1)) AS BIGINT))),
                   (a, b) -> (a*31 + b) % 1000000007) AS raw
               FROM e),
         r AS (SELECT lang, source, doc_id,
                 row_number() OVER (PARTITION BY lang, source
                   ORDER BY (raw * raw) % 1000000007, doc_id) AS rnk
               FROM f)
       SELECT r.lang, r.source, r.rnk, r.doc_id
       FROM r JOIN pl USING (lang, source) WHERE r.rnk <= pl.ns""",
    // q85: q46's recursive-component CTE + q49's quality expression +
    // the per-cluster (q desc, id) argmax + the survivor anti-join —
    // every drop decision recomputed end to end
    "q85_keepbest_survivors" ->
      """WITH RECURSIVE
       w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       s AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(w)-1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
             FROM w),
       p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
             FROM s a JOIN s b ON a.doc_id < b.doc_id
             WHERE len(a.sh) > 0 AND len(b.sh) > 0
               AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(a.sh || b.sh)) >= 0.5),
       e AS (SELECT a_id AS src, b_id AS dst FROM p
             UNION ALL SELECT b_id, a_id FROM p),
       reach AS (
         SELECT src AS id, src AS r FROM e
         UNION
         SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
       cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
       qs AS (SELECT doc_id, round((
                least(CAST(len(string_split(text, ' ')) AS DOUBLE)/50.0, 1.0)
                + least(CAST(len(list_filter(string_split(text, ' '),
                    x -> x IN ('the','a','an','of','and','is','to')))
                    AS DOUBLE)
                  / greatest(len(string_split(text, ' ')), 1) * 5.0, 1.0)
                ) / 2.0, 4) AS q
              FROM documents),
       rk AS (SELECT cl.id,
                row_number() OVER (PARTITION BY cl.cluster
                  ORDER BY qs.q DESC, cl.id) AS rn
              FROM cl JOIN qs ON cl.id = qs.doc_id),
       losers AS (SELECT id FROM rk WHERE rn > 1)
       SELECT d.doc_id, qs.q
       FROM documents d JOIN qs ON qs.doc_id = d.doc_id
       WHERE d.doc_id NOT IN (SELECT id FROM losers)""",
    // q86: DuckDB's index-aware list_filter (1-based i) mirrors Spark's
    // 0-based filter + array_position first-occurrence rule exactly
    "q86_intradoc_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents)
       SELECT doc_id,
              CAST(len(ws) AS INT) AS n_units,
              CAST(len(list_filter(ws,
                (u, i) -> list_position(ws, u) = i)) AS INT) AS n_kept,
              array_to_string(list_filter(ws,
                (u, i) -> list_position(ws, u) = i), ' ') AS text_intra
       FROM w""",
    // q87: like q29/q51 the approximate side self-gates inside the
    // query; the oracle pins the EXACT all-pairs count (recomputed in
    // DuckDB) and the gate boolean
    "q87_semantic_dedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
               CAST(b.embedding AS DOUBLE[])) >= 0.4""",
    // full DSIR replay: per-token portable fingerprint -> 256-bucket
    // histograms of both classes -> smoothed log-ratio -> per-doc
    // round-inside-round weight -> deterministic top-100
    "q88_dsir_select" ->
      """WITH tb AS (
           SELECT doc_id, t,
             list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, length(term)+1),
                 i -> CAST(unicode(substr(term, CAST(i AS INT), 1))
                   AS BIGINT))),
               (a, b) -> (a*31 + b) % 1000000007) % 256 AS bucket
           FROM (SELECT doc_id, source = 'src0' AS t,
                   unnest(regexp_split_to_array(
                     regexp_replace(text, '^\s+|\s+$', '', 'g'),
                     '\s+')) AS term
                 FROM documents)),
         db AS (SELECT doc_id, t, bucket, CAST(count(*) AS DOUBLE) AS cnt
                FROM tb GROUP BY 1, 2, 3),
         bc AS (SELECT bucket,
                  sum(CASE WHEN t THEN cnt ELSE 0 END) AS ct,
                  sum(CASE WHEN NOT t THEN cnt ELSE 0 END) AS cr
                FROM db GROUP BY 1),
         tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bc),
         lr AS (SELECT bucket,
                  round(ln((ct + 1.0) / (nt + 256.0))
                      - ln((cr + 1.0) / (nr + 256.0)), 9) AS lr
                FROM bc CROSS JOIN tot),
         s AS (SELECT doc_id, round(sum(round(cnt * lr, 9)), 4) AS dsir
               FROM db JOIN lr USING (bucket) WHERE NOT t GROUP BY 1)
         SELECT rnk, doc_id, dsir FROM (
           SELECT doc_id, dsir,
                  row_number() OVER (ORDER BY dsir DESC, doc_id) AS rnk
           FROM s) x
         WHERE rnk <= 100""",
    // q28's all-pairs cosine ranking plus the label-mismatch and
    // near-dup-ceiling predicates
    "q89_hard_negatives" ->
      """SELECT qid, rank, nid, round(sim, 4) AS sim FROM (
           SELECT q.vec_id AS qid, c.vec_id AS nid,
                  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                         CAST(c.embedding AS DOUBLE[])) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(
                               CAST(q.embedding AS DOUBLE[]),
                               CAST(c.embedding AS DOUBLE[])) DESC,
                             c.vec_id) AS rank
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
             AND c.label <> q.label
             AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                   CAST(c.embedding AS DOUBLE[])) < 0.95) t
         WHERE rank <= 5""",
    // full Stupid Backoff replay: both reference-corpus frequency
    // tables, the per-token three-way case, the singleton floor, and
    // the per-doc mean
    "q91_stupid_backoff" ->
      """WITH ref AS (SELECT regexp_split_to_array(
                        regexp_replace(text, '^\s+|\s+$', '', 'g'),
                        '\s+') AS ws
                      FROM documents WHERE source <> 'src0'),
         uc AS (SELECT term, CAST(count(*) AS DOUBLE) AS cnt
                FROM (SELECT unnest(ws) AS term FROM ref) GROUP BY 1),
         tot AS (SELECT sum(cnt) AS n FROM uc),
         bg AS (SELECT ws[CAST(i AS INT)] AS a,
                       ws[CAST(i AS INT) + 1] AS b,
                       CAST(count(*) AS DOUBLE) AS cnt
                FROM ref, unnest(range(1, len(ws))) AS t(i)
                GROUP BY 1, 2),
         d AS (SELECT doc_id, regexp_split_to_array(
                 regexp_replace(text, '^\s+|\s+$', '', 'g'),
                 '\s+') AS ws
               FROM documents WHERE source = 'src0'),
         r AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                      ws[CAST(i AS INT)] AS cur,
                      CASE WHEN i = 1 THEN NULL
                           ELSE ws[CAST(i AS INT) - 1] END AS prev
               FROM d, unnest(range(1, len(ws) + 1)) AS t(i)),
         s AS (SELECT doc_id, round(
                 CASE WHEN pos = 0
                        THEN -ln(coalesce(ucur.cnt, 1) / tot.n)
                      WHEN bg.cnt IS NOT NULL AND uprev.cnt IS NOT NULL
                        THEN -ln(bg.cnt / uprev.cnt)
                      ELSE -ln(0.4 * coalesce(ucur.cnt, 1) / tot.n)
                 END, 9) AS nlp
               FROM r
               LEFT JOIN uc ucur ON r.cur = ucur.term
               LEFT JOIN uc uprev ON r.prev = uprev.term
               LEFT JOIN bg ON r.prev = bg.a AND r.cur = bg.b
               CROSS JOIN tot)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(nlp), 4) AS sb_surprisal
         FROM s GROUP BY 1""",
    // q60's chunk replay feeding q69's BM25 replay at chunk grain, then
    // the MaxP best-chunk-per-doc aggregate and the doc re-rank
    "q90_maxp_retrieval" ->
      """WITH w AS (SELECT doc_id,
                      regexp_split_to_array(
                        regexp_replace(text, '^\s+|\s+$', '', 'g'),
                        '\s+') AS w
                    FROM documents WHERE source <> 'src0'),
         k AS (SELECT doc_id, w,
                 CASE WHEN len(w) <= 30 THEN 1
                      ELSE 1 + CAST(ceil((len(w) - 30) / 25.0) AS INT)
                 END AS nc
               FROM w),
         c AS (SELECT CAST(doc_id AS VARCHAR) || '#'
                        || CAST(i - 1 AS VARCHAR) AS chunk_id,
                      w[(i-1)*25 + 1 : (i-1)*25 + 30] AS ws
               FROM k, unnest(range(1, nc + 1)) AS t(i)),
         q AS (SELECT doc_id AS query_id,
                 array_to_string(string_split(text, ' ')[1:8], ' ') AS qtext
               FROM documents WHERE source = 'src0'
               ORDER BY doc_id LIMIT 5),
         qt AS (SELECT DISTINCT query_id,
                  unnest(string_split(qtext, ' ')) AS term FROM q),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                          avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM c),
         toks AS (SELECT chunk_id, CAST(len(ws) AS DOUBLE) AS dlen,
                         unnest(ws) AS term FROM c),
         tf AS (SELECT chunk_id, term, CAST(count(*) AS DOUBLE) AS tf,
                       max(dlen) AS dlen
                FROM toks WHERE term IN (SELECT DISTINCT term FROM qt)
                GROUP BY 1, 2),
         dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
                 FROM tf GROUP BY 1),
         s AS (SELECT qt.query_id, tf.chunk_id,
                 round(sum(round(
                   ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1)
                     * tf.tf * 2.2
                     / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dlen / stats.avgdl)),
                   9)), 4) AS bm25
               FROM tf JOIN dfq USING (term) JOIN qt USING (term)
               CROSS JOIN stats
               GROUP BY 1, 2),
         cr AS (SELECT query_id, chunk_id, bm25,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY bm25 DESC, chunk_id) AS crnk
                FROM s),
         ds AS (SELECT query_id,
                  CAST(string_split(chunk_id, '#')[1] AS BIGINT) AS doc_id,
                  max(bm25) AS maxp
                FROM cr WHERE crnk <= 10 GROUP BY 1, 2)
         SELECT query_id, rnk, doc_id, maxp FROM (
           SELECT query_id, doc_id, maxp,
                  row_number() OVER (PARTITION BY query_id
                    ORDER BY maxp DESC, doc_id) AS rnk
           FROM ds) x
         WHERE rnk <= 3""",
    // q80's structural gate: the Spark side computes the shape booleans
    // (topK distinct in-corpus docs per query, all queries present); the
    // oracle pins the expected shape — recall quality is q77's gate
    "q80_hybrid_ann_stored" ->
      """SELECT CAST(3*count(*) AS BIGINT) AS n_results, TRUE AS shape_ok
         FROM (SELECT doc_id FROM documents WHERE source = 'src0'
               ORDER BY doc_id LIMIT 5) q""",
    "q28_ann_topk" ->
      """SELECT qid, rank, nid, round(sim, 4) AS sim FROM (
           SELECT q.vec_id AS qid, c.vec_id AS nid,
                  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                         CAST(c.embedding AS DOUBLE[])) AS sim,
                  row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY list_cosine_similarity(
                               CAST(q.embedding AS DOUBLE[]),
                               CAST(c.embedding AS DOUBLE[])) DESC,
                             c.vec_id) AS rank
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) t
         WHERE rank <= 5""",
    // truncated (leading-16-dim) exact top-k + the full-dim overlap
    // boolean — both rankings exact, the q28 tie-break (sim DESC, nid)
    "q129_matryoshka" ->
      """WITH full5 AS (
           SELECT qid, nid FROM (
             SELECT q.vec_id AS qid, c.vec_id AS nid,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_cosine_similarity(
                                 CAST(q.embedding AS DOUBLE[]),
                                 CAST(c.embedding AS DOUBLE[])) DESC,
                               c.vec_id) AS rank
             FROM embeddings q, embeddings c
             WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) t
           WHERE rank <= 5),
         tr AS (
           SELECT qid, rank, nid, round(sim, 4) AS sim FROM (
             SELECT q.vec_id AS qid, c.vec_id AS nid,
                    list_cosine_similarity(
                      CAST(q.embedding AS DOUBLE[])[1:16],
                      CAST(c.embedding AS DOUBLE[])[1:16]) AS sim,
                    row_number() OVER (PARTITION BY q.vec_id
                      ORDER BY list_cosine_similarity(
                                 CAST(q.embedding AS DOUBLE[])[1:16],
                                 CAST(c.embedding AS DOUBLE[])[1:16]) DESC,
                               c.vec_id) AS rank
             FROM embeddings q, embeddings c
             WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) t
           WHERE rank <= 5)
       SELECT tr.qid, tr.rank, tr.nid, tr.sim,
              (full5.nid IS NOT NULL) AS in_full_topk
       FROM tr LEFT JOIN full5
         ON tr.qid = full5.qid AND tr.nid = full5.nid""",
    "q38_token_counts" ->
      """SELECT doc_id,
                len(regexp_split_to_array(
                  regexp_replace(text, '^\s+|\s+$', '', 'g'),
                  '\s+')) AS ws_tokens,
                len(regexp_extract_all(text,
                  '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS bpe_tokens
         FROM documents""",
    "q39_dedup_survivors" -> (shingleCte +
      """ SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (
           SELECT b.doc_id FROM s a JOIN s b ON a.doc_id < b.doc_id
           WHERE len(a.sh) > 0 AND len(b.sh) > 0
             AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(a.sh || b.sh)) >= 0.5)"""),
    "q45_sketch_similarity" -> (shingleCte +
      """, e AS (SELECT d.source,
                list_distinct(flatten(list(s.sh))) AS ss
              FROM s JOIN documents d USING (doc_id)
              GROUP BY d.source)
       SELECT a.source AS src_a, b.source AS src_b,
              round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                    / len(list_distinct(a.ss || b.ss)), 4) AS exact_j,
              TRUE AS within_tol
       FROM e a JOIN e b ON a.source < b.source"""),
    "q48_funnel" ->
      """SELECT user_id, first_signup_us IS NOT NULL AS signed_up,
                coalesce(last_purchase_us > first_signup_us, FALSE)
                  AS converted_after_signup
         FROM (SELECT user_id,
                 min(CASE WHEN event_type = 'signup'
                     THEN epoch_us(ts) END) AS first_signup_us,
                 max(CASE WHEN event_type = 'purchase'
                     THEN epoch_us(ts) END) AS last_purchase_us
               FROM events GROUP BY user_id) t""",
    "q49_quality_gate" ->
      """WITH f AS (
         SELECT lang,
                len(string_split(text, ' ')) AS n_tok,
                CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]')
                       THEN 'zh'
                     WHEN CAST(len(list_filter(string_split(text, ' '),
                         x -> x IN ('the','a','an','of','and','is','to')))
                         AS DOUBLE)
                       / greatest(len(string_split(text, ' ')), 1) >= 0.05
                       THEN 'en'
                     ELSE 'unk' END AS pred,
                round((
                  least(CAST(len(string_split(text, ' ')) AS DOUBLE)/50.0, 1.0)
                  + least(CAST(len(list_filter(string_split(text, ' '),
                      x -> x IN ('the','a','an','of','and','is','to')))
                      AS DOUBLE)
                    / greatest(len(string_split(text, ' ')), 1) * 5.0, 1.0)
                  ) / 2.0, 4) AS q
         FROM documents)
       SELECT CASE WHEN n_tok < 15 THEN 'too_short'
                   WHEN pred <> lang THEN 'lang_mismatch'
                   WHEN q < 0.6 THEN 'low_quality'
                   ELSE 'kept' END AS verdict,
              CAST(count(*) AS BIGINT) AS n_docs
       FROM f GROUP BY 1""",
    "q50_vector_quantize" ->
      """SELECT vec_id, round(nrm, 4) AS l2_norm,
                CAST(round(e[1] / nrm * 127) AS INT) AS q0,
                CAST(list_sum(list_transform(e,
                  x -> CAST(round(x / nrm * 127) AS BIGINT))) AS BIGINT)
                  AS q_sum
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                 sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                   x -> x * x))) AS nrm
               FROM embeddings) t""",
    "q46_dup_clusters" ->
      """WITH RECURSIVE
       w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       s AS (SELECT doc_id,
               list_distinct(list_transform(range(1, len(w)-1),
                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
             FROM w),
       p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id
             FROM s a JOIN s b ON a.doc_id < b.doc_id
             WHERE len(a.sh) > 0 AND len(b.sh) > 0
               AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(a.sh || b.sh)) >= 0.5),
       e AS (SELECT a_id AS src, b_id AS dst FROM p
             UNION ALL SELECT b_id, a_id FROM p),
       reach AS (
         SELECT src AS id, src AS r FROM e
         UNION
         SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id)
       SELECT id, min(r) AS cluster FROM reach GROUP BY id""",
    "q47_tfidf_topterms" ->
      """WITH terms AS (SELECT source, unnest(string_split(text, ' ')) AS term
                        FROM documents),
       tf AS (SELECT source, term, CAST(count(*) AS BIGINT) AS tf
              FROM terms GROUP BY 1, 2),
       idf AS (SELECT term, count(DISTINCT source) AS df FROM terms GROUP BY 1),
       ns AS (SELECT count(DISTINCT source) AS n FROM terms)
       SELECT source, rnk, term, score FROM (
         SELECT tf.source, tf.term,
                round(tf.tf * ln(CAST(ns.n AS DOUBLE) / idf.df), 6) AS score,
                row_number() OVER (PARTITION BY tf.source
                  ORDER BY round(tf.tf * ln(CAST(ns.n AS DOUBLE) / idf.df), 6)
                             DESC, tf.term) AS rnk
         FROM tf JOIN idf USING (term) CROSS JOIN ns) x
       WHERE rnk <= 3""",
    "q30_embed_neardup" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                      CAST(b.embedding AS DOUBLE[])), 4) AS sim
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
               CAST(b.embedding AS DOUBLE[])) >= 0.9""",
    // string_agg skips the NULLs the CASE leaves for dropped units and
    // coalesce maps the all-dropped doc to '' (Spark's empty array_join)
    "q62_line_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM documents),
         l AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[i] AS unit
               FROM w, unnest(range(1, len(ws) + 1)) AS t(i)),
         k AS (SELECT doc_id, pos, unit,
                 row_number() OVER (PARTITION BY unit
                   ORDER BY doc_id, pos) AS rn
               FROM l)
         SELECT doc_id,
                CAST(count(*) AS BIGINT) AS n_units,
                CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                coalesce(string_agg(CASE WHEN rn = 1 THEN unit END, ' '
                                    ORDER BY pos), '') AS text_dedup
         FROM k GROUP BY doc_id""",
    // the q49/q39/q61/q55 oracle pieces composed in pipeline order:
    // gate → dedup survivors → decontaminate (df cap over the deduped
    // corpus) → content-keyed split
    "q63_clean_pipeline" -> (shingleCte +
      """, f AS (SELECT d.doc_id, d.source, d.text, d.lang,
                len(string_split(d.text, ' ')) AS n_tok,
                CASE WHEN regexp_matches(d.text, '[\x{4e00}-\x{9fff}]')
                       THEN 'zh'
                     WHEN CAST(len(list_filter(string_split(d.text, ' '),
                         x -> x IN ('the','a','an','of','and','is','to')))
                         AS DOUBLE)
                       / greatest(len(string_split(d.text, ' ')), 1) >= 0.05
                       THEN 'en'
                     ELSE 'unk' END AS pred,
                round((
                  least(CAST(len(string_split(d.text, ' ')) AS DOUBLE)/50.0,
                        1.0)
                  + least(CAST(len(list_filter(string_split(d.text, ' '),
                      x -> x IN ('the','a','an','of','and','is','to')))
                      AS DOUBLE)
                    / greatest(len(string_split(d.text, ' ')), 1) * 5.0, 1.0)
                  ) / 2.0, 4) AS q
         FROM documents d WHERE d.source <> 'src0'),
         kept AS (SELECT doc_id, source, text FROM f
                  WHERE n_tok >= 15 AND pred = lang AND q >= 0.6),
         sk AS (SELECT s.doc_id, s.sh FROM s JOIN kept USING (doc_id)),
         dups AS (SELECT DISTINCT b.doc_id
                  FROM sk a JOIN sk b ON a.doc_id < b.doc_id
                  WHERE len(a.sh) > 0 AND len(b.sh) > 0
                    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                        / len(list_distinct(a.sh || b.sh)) >= 0.5),
         surv AS (SELECT * FROM kept
                  WHERE doc_id NOT IN (SELECT doc_id FROM dups)),
         d2 AS (SELECT s.doc_id, unnest(s.sh) AS g
                FROM s JOIN surv USING (doc_id)),
         p2 AS (SELECT s.doc_id, unnest(s.sh) AS g
                FROM s JOIN documents doc ON s.doc_id = doc.doc_id
                WHERE doc.source = 'src0'),
         cdf AS (SELECT g, count(*) AS df FROM d2 GROUP BY g),
         flagged AS (SELECT c.doc_id FROM d2 c JOIN p2 p ON c.g = p.g
                     JOIN cdf ON cdf.g = c.g
                     WHERE cdf.df <= 10
                     GROUP BY c.doc_id, p.doc_id
                     HAVING count(*) >= 2),
         clean AS (SELECT * FROM surv
                   WHERE doc_id NOT IN (SELECT doc_id FROM flagged))
         SELECT doc_id, source,
                CASE WHEN fp % 100 < 80 THEN 'train'
                     WHEN fp % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                      list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                          list_transform(range(1, length(text)+1),
                            i -> CAST(unicode(substr(text, CAST(i AS INT), 1))
                              AS BIGINT))),
                        (a, b) -> (a*31 + b) % 1000000007) AS fp
               FROM clean) c"""),
    // full replay of the URL curation pass: planted URL rebuilt
    // byte-for-byte, host via the IDENTICAL regex (java.util.regex and
    // RE2 agree on it — non-capturing groups + negated classes only),
    // the public-suffix CASE, the blocklist, the 'domcap:' fingerprint
    // chain, and the per-domain rank-<=-5 filter
    "q108_domain_cap" ->
      s"""WITH u AS (SELECT doc_id, text,
             (CASE WHEN doc_id % 3 = 0 THEN 'https://' ELSE 'http://' END) ||
             (CASE WHEN doc_id % 11 = 0
                THEN 'crawler' || CAST(doc_id AS VARCHAR) || ':tok@'
                ELSE '' END) ||
             'www.site' || CAST(doc_id % 97 AS VARCHAR) || '.' ||
             list_value('com', 'co.uk', 'org', 'github.io', 'com.au')
               [CAST(doc_id % 5 AS BIGINT) + 1] ||
             (CASE WHEN doc_id % 13 = 0 THEN ':8443' ELSE '' END) ||
             '/p/' || CAST(doc_id AS VARCHAR) ||
             '?ref=r' || CAST(doc_id % 4 AS VARCHAR) AS url
           FROM documents),
         h AS (SELECT doc_id, text,
                 lower(regexp_extract(url, '${WebOps.HostPattern}', 1))
                   AS host
               FROM u),
         p AS (SELECT doc_id, text, host,
                 string_split(host, '.') AS parts FROM h),
         d AS (SELECT doc_id, text, host,
                 CASE WHEN len(parts) >= 3
                        AND (parts[-2] || '.' || parts[-1]) IN
                          ('co.uk', 'ac.uk', 'gov.uk', 'org.uk', 'co.jp',
                           'com.au', 'com.br', 'github.io')
                      THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
                      WHEN len(parts) >= 2
                      THEN parts[-2] || '.' || parts[-1]
                      ELSE host END AS domain
               FROM p),
         f AS (SELECT * FROM d
               WHERE domain NOT IN ('site0.com', 'site13.co.uk')),
         k AS (SELECT doc_id, host, domain,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       range(1, length('domcap:' || COALESCE(text, '')) + 1),
                       i -> CAST(unicode(substr(
                         'domcap:' || COALESCE(text, ''),
                         CAST(i AS INT), 1)) AS BIGINT))),
                   (a, b) -> (a*31 + b) % 1000000007) AS fp
               FROM f),
         r AS (SELECT doc_id, host, domain,
                 row_number() OVER (PARTITION BY domain
                   ORDER BY fp, doc_id) AS rnk
               FROM k)
       SELECT doc_id, host, domain FROM r WHERE rnk <= 5""",
    // every n-gram of every doc rebuilt via list slicing; totals are the
    // exact max(len-n+1, 0) arithmetic, distincts counted per
    // (source, n); HUGEINT sums BIGINT-cast per the r9 audit
    "q109_ngram_diversity" ->
      """WITH toks AS (SELECT source, string_split(text, ' ') AS w
               FROM documents),
         ns AS (SELECT unnest([1, 2, 3]) AS n),
         tot AS (SELECT source, n,
                   CAST(sum(greatest(len(w) - n + 1, 0)) AS BIGINT)
                     AS total_ngrams
                 FROM toks CROSS JOIN ns GROUP BY source, n),
         gr AS (SELECT source, n,
                  unnest(list_distinct(list_transform(
                    range(1, len(w) - n + 2),
                    i -> array_to_string(w[i:i+n-1], ' ')))) AS g
                FROM toks CROSS JOIN ns),
         di AS (SELECT source, n,
                  CAST(count(DISTINCT g) AS BIGINT) AS distinct_ngrams
                FROM gr GROUP BY source, n)
       SELECT t.source, t.n, t.total_ngrams,
              COALESCE(di.distinct_ngrams, 0) AS distinct_ngrams,
              CASE WHEN t.total_ngrams > 0
                THEN round(CAST(COALESCE(di.distinct_ngrams, 0) AS DOUBLE)
                  / t.total_ngrams, 6) END AS ratio
       FROM tot t LEFT JOIN di USING (source, n)""",
    // quality score (q99's snippet), per-source rank order statistics at
    // max(ceil(cnt*pct/100), 1) by (score, id), the clamp, 9dp moments
    // over the winsorized values, 4dp z with the single-doc 0.0 pin
    "q110_winsorized_z" ->
      """WITH k AS (SELECT doc_id, source,
                 round((least(CAST(len(string_split(text, ' '))
                       AS DOUBLE) / 50.0, 1.0)
                   + least(CAST(len(list_filter(string_split(text, ' '),
                       x -> x IN ('the','a','an','of','and','is','to')))
                       AS DOUBLE)
                     / greatest(len(string_split(text, ' ')), 1) * 5.0, 1.0)
                   ) / 2.0, 4) AS q
               FROM documents),
         r AS (SELECT doc_id, source, q,
                 row_number() OVER (PARTITION BY source
                   ORDER BY q, doc_id) AS rnk,
                 count(*) OVER (PARTITION BY source) AS cnt
               FROM k),
         b AS (SELECT source,
                 max(CASE WHEN rnk = greatest((cnt*5 + 99) // 100, 1)
                     THEN q END) AS lo,
                 max(CASE WHEN rnk = greatest((cnt*95 + 99) // 100, 1)
                     THEN q END) AS hi
               FROM r GROUP BY source),
         w AS (SELECT r.doc_id, r.source, r.q, b.lo, b.hi,
                 least(greatest(r.q, b.lo), b.hi) AS winsorized
               FROM r JOIN b USING (source)),
         m AS (SELECT source, round(avg(winsorized), 9) AS mu,
                 round(stddev_samp(winsorized), 9) AS sd
               FROM w GROUP BY source)
       SELECT w.doc_id, w.source, w.q AS score, w.lo, w.hi, w.winsorized,
              CASE WHEN m.sd IS NOT NULL AND m.sd > 0
                THEN round((w.winsorized - m.mu) / m.sd, 4)
                ELSE 0.0 END AS z
       FROM w JOIN m USING (source)""",
    // both planted versions rebuilt, contents compared by the portable
    // fingerprint chain, statuses counted per source, and the two
    // distinct-term anti-joins replayed corpus-wide
    "q111_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, source, text FROM documents
               WHERE doc_id % 2 = 0),
         v2 AS (SELECT doc_id, source,
                  CASE WHEN doc_id % 10 = 0
                    THEN text || ' editv2 tokenx' ||
                      CAST(doc_id % 7 AS VARCHAR)
                    ELSE text END AS text
                FROM documents WHERE doc_id % 3 <> 0),
         f1 AS (SELECT doc_id, source,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(COALESCE(text, '')) + 1),
                      i -> CAST(unicode(substr(COALESCE(text, ''),
                        CAST(i AS INT), 1)) AS BIGINT))),
                    (a, b) -> (a*31 + b) % 1000000007) AS fp
                FROM v1),
         f2 AS (SELECT doc_id, source,
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_transform(range(1, length(COALESCE(text, '')) + 1),
                      i -> CAST(unicode(substr(COALESCE(text, ''),
                        CAST(i AS INT), 1)) AS BIGINT))),
                    (a, b) -> (a*31 + b) % 1000000007) AS fp
                FROM v2),
         j AS (SELECT COALESCE(f2.source, f1.source) AS source,
                 CASE WHEN f1.doc_id IS NULL THEN 'added'
                      WHEN f2.doc_id IS NULL THEN 'removed'
                      WHEN f1.fp = f2.fp THEN 'unchanged'
                      ELSE 'changed' END AS metric
               FROM f1 FULL OUTER JOIN f2 USING (doc_id)),
         dm AS (SELECT metric, source, CAST(count(*) AS BIGINT) AS n
                FROM j GROUP BY metric, source),
         t1 AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
                FROM v1),
         t2 AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
                FROM v2)
       SELECT metric, source, n FROM dm
       UNION ALL
       SELECT 'novel_terms', NULL, CAST(count(*) AS BIGINT)
       FROM t2 WHERE term NOT IN (SELECT term FROM t1)
       UNION ALL
       SELECT 'lost_terms', NULL, CAST(count(*) AS BIGINT)
       FROM t1 WHERE term NOT IN (SELECT term FROM t2)""",
    // the whole NB fit + score replayed: class doc counts, per-class
    // term histograms, joint-vocab add-1 smoothing, 9dp weights/bias/
    // default, per-(doc, term) 9dp contributions, 4dp log-odds sum
    "q113_nb_classifier" ->
      """WITH lab AS (SELECT doc_id, source, text,
                 source = 'src1' AS is_t FROM documents),
         cls AS (SELECT
                   CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE)
                     AS ndt,
                   CAST(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS DOUBLE)
                     AS ndr
                 FROM lab),
         toks AS (SELECT doc_id, is_t,
                   unnest(string_split(text, ' ')) AS term FROM lab),
         tc AS (SELECT term,
                  CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE)
                    AS ct,
                  CAST(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS DOUBLE)
                    AS cr
                FROM toks GROUP BY term),
         tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr,
                   CAST(count(*) AS DOUBLE) AS v FROM tc),
         w AS (SELECT term,
                 round(ln((tc.ct + 1.0) / (tot.tt + tot.v * 1.0)) -
                       ln((tc.cr + 1.0) / (tot.tr + tot.v * 1.0)), 9) AS w
               FROM tc CROSS JOIN tot),
         consts AS (SELECT
                 round(ln(cls.ndt) - ln(cls.ndr), 9) AS bias,
                 round(ln(1.0 / (tot.tt + tot.v * 1.0)) -
                       ln(1.0 / (tot.tr + tot.v * 1.0)), 9) AS dw
               FROM cls CROSS JOIN tot),
         dt AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS cnt
                FROM toks WHERE NOT is_t GROUP BY doc_id, term),
         sc AS (SELECT dt.doc_id,
                  round(CAST(sum(CAST(
                      round(dt.cnt * COALESCE(w.w, consts.dw), 9)
                      AS DECIMAL(38,9))) AS DOUBLE)
                    + max(consts.bias), 4) AS nb_logodds
                FROM dt LEFT JOIN w USING (term) CROSS JOIN consts
                GROUP BY dt.doc_id)
       SELECT l.doc_id, sc.nb_logodds, sc.nb_logodds > 0.0 AS keep
       FROM (SELECT doc_id FROM lab WHERE NOT is_t) l
       LEFT JOIN sc USING (doc_id)""",
    // the estimator side is approximate by construction (q37 posture):
    // the oracle recomputes the EXACT per-source distinct-content count
    // and pins the tolerance gate boolean the query emits
    "q114_cardinality_registry" ->
      """SELECT source,
           CAST(count(DISTINCT COALESCE(text, '')) AS BIGINT) AS n_exact,
           true AS sketch_ok
         FROM documents GROUP BY source""",
    // both planted variants rebuilt with chr() code points (233 = é
    // composed, 769 = U+0301 combining acute), the canonicalization
    // replayed as nfc_normalize + lower + regex trim/collapse, both
    // distinct counts two-phase like the engine
    "q115_canon_dedup" ->
      """WITH base AS (SELECT doc_id, source,
                 COALESCE(text, '') || ' Caf' || chr(233) AS t
               FROM documents),
         noisy AS (SELECT doc_id + 1000000 AS doc_id, source,
                 upper(COALESCE(text, '')) || '   Cafe' || chr(769) || '  '
                   AS t
               FROM documents),
         al AS (SELECT * FROM base UNION ALL SELECT * FROM noisy),
         canon AS (SELECT source,
                 regexp_replace(regexp_replace(
                   lower(nfc_normalize(t)),
                   '^\s+|\s+$', '', 'g'), '\s+', ' ', 'g') AS c
               FROM al),
         nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                FROM al GROUP BY source),
         rd AS (SELECT source, CAST(count(*) AS BIGINT) AS raw_distinct
                FROM (SELECT DISTINCT source, t FROM al) GROUP BY source),
         cd AS (SELECT source, CAST(count(*) AS BIGINT) AS canon_distinct
                FROM (SELECT DISTINCT source, c FROM canon)
                GROUP BY source)
       SELECT source, n_docs, raw_distinct, canon_distinct
       FROM nd JOIN rd USING (source) JOIN cd USING (source)""",
    // the exact heavy set recomputed (cnt*(k+1) > n strict), the two
    // MG guarantee booleans pinned true — estimator content itself is
    // order-dependent and deliberately NOT hashed (q37 posture)
    "q116_heavy_hitters" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
               FROM documents),
         c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_exact
               FROM toks GROUP BY source, term),
         t AS (SELECT source, CAST(sum(n_exact) AS BIGINT) AS n_tot
               FROM c GROUP BY source)
       SELECT c.source, c.term, c.n_exact,
              true AS in_summary, true AS est_ok
       FROM c JOIN t USING (source)
       WHERE c.n_exact * 25 > t.n_tot""",
    // the ENTIRE web-curation composition: q108's URL/cap chain, then
    // q113's NB fit + score REPARAMETERIZED onto the capped corpus (the
    // inter-stage contract: the model never sees blocked/over-cap docs)
    "q117_web_curation" ->
      s"""WITH u AS (SELECT doc_id, text,
             (CASE WHEN doc_id % 3 = 0 THEN 'https://' ELSE 'http://' END) ||
             (CASE WHEN doc_id % 11 = 0
                THEN 'crawler' || CAST(doc_id AS VARCHAR) || ':tok@'
                ELSE '' END) ||
             'www.site' || CAST(doc_id % 97 AS VARCHAR) || '.' ||
             list_value('com', 'co.uk', 'org', 'github.io', 'com.au')
               [CAST(doc_id % 5 AS BIGINT) + 1] ||
             (CASE WHEN doc_id % 13 = 0 THEN ':8443' ELSE '' END) ||
             '/p/' || CAST(doc_id AS VARCHAR) ||
             '?ref=r' || CAST(doc_id % 4 AS VARCHAR) AS url
           FROM documents),
         h AS (SELECT doc_id, text,
                 lower(regexp_extract(url, '${WebOps.HostPattern}', 1))
                   AS host
               FROM u),
         p AS (SELECT doc_id, text, host,
                 string_split(host, '.') AS parts FROM h),
         d AS (SELECT doc_id, text, host,
                 CASE WHEN len(parts) >= 3
                        AND (parts[-2] || '.' || parts[-1]) IN
                          ('co.uk', 'ac.uk', 'gov.uk', 'org.uk', 'co.jp',
                           'com.au', 'com.br', 'github.io')
                      THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
                      WHEN len(parts) >= 2
                      THEN parts[-2] || '.' || parts[-1]
                      ELSE host END AS domain
               FROM p),
         fdom AS (SELECT * FROM d
               WHERE domain NOT IN ('site0.com', 'site13.co.uk')),
         kk AS (SELECT doc_id, domain,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(
                       range(1, length('domcap:' || COALESCE(text, '')) + 1),
                       i -> CAST(unicode(substr(
                         'domcap:' || COALESCE(text, ''),
                         CAST(i AS INT), 1)) AS BIGINT))),
                   (a, b) -> (a*31 + b) % 1000000007) AS fp
               FROM fdom),
         r AS (SELECT doc_id, domain,
                 row_number() OVER (PARTITION BY domain
                   ORDER BY fp, doc_id) AS rnk
               FROM kk),
         capped AS (SELECT doc_id, domain FROM r WHERE rnk <= 5),
         lab AS (SELECT c.doc_id, doc.source, doc.text,
                   doc.source = 'src1' AS is_t
                 FROM capped c JOIN documents doc USING (doc_id)),
         cls AS (SELECT
                   CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE)
                     AS ndt,
                   CAST(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS DOUBLE)
                     AS ndr
                 FROM lab),
         toks AS (SELECT doc_id, is_t,
                   unnest(string_split(text, ' ')) AS term FROM lab),
         tc AS (SELECT term,
                  CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE)
                    AS ct,
                  CAST(sum(CASE WHEN NOT is_t THEN 1 ELSE 0 END) AS DOUBLE)
                    AS cr
                FROM toks GROUP BY term),
         tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr,
                   CAST(count(*) AS DOUBLE) AS v FROM tc),
         w AS (SELECT term,
                 round(ln((tc.ct + 1.0) / (tot.tt + tot.v * 1.0)) -
                       ln((tc.cr + 1.0) / (tot.tr + tot.v * 1.0)), 9) AS w
               FROM tc CROSS JOIN tot),
         consts AS (SELECT
                 round(ln(cls.ndt) - ln(cls.ndr), 9) AS bias,
                 round(ln(1.0 / (tot.tt + tot.v * 1.0)) -
                       ln(1.0 / (tot.tr + tot.v * 1.0)), 9) AS dw
               FROM cls CROSS JOIN tot),
         dt AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS cnt
                FROM toks WHERE NOT is_t GROUP BY doc_id, term),
         sc AS (SELECT dt.doc_id,
                  round(CAST(sum(CAST(
                      round(dt.cnt * COALESCE(w.w, consts.dw), 9)
                      AS DECIMAL(38,9))) AS DOUBLE)
                    + max(consts.bias), 4) AS nb_logodds
                FROM dt LEFT JOIN w USING (term) CROSS JOIN consts
                GROUP BY dt.doc_id)
       SELECT l.doc_id, capped.domain, sc.nb_logodds,
              sc.nb_logodds > 0.0 AS keep
       FROM (SELECT doc_id FROM lab WHERE NOT is_t) l
       LEFT JOIN sc USING (doc_id)
       JOIN capped USING (doc_id)""",
    // boilerplate strip: planting, per-source DISTINCT-carrier counts,
    // the minDf threshold and every reassembled string all replayed
    "q120_boilerplate" ->
      """WITH d AS (SELECT doc_id, source,
             coalesce(text, '') || chr(10) || 'nav-' || source || chr(10) ||
             'promo-' || CAST(doc_id % 3 AS VARCHAR) || chr(10) ||
             'rare-' || CAST(doc_id % 67 AS VARCHAR) AS t
           FROM documents),
         w AS (SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM d),
         l AS (SELECT doc_id, source, CAST(i - 1 AS INT) AS pos, ls[i] AS unit
               FROM w, unnest(range(1, len(ls) + 1)) AS t(i)),
         c AS (SELECT source, unit, count(DISTINCT doc_id) AS line_df
               FROM l GROUP BY source, unit),
         k AS (SELECT l.doc_id, l.pos, l.unit, (c.line_df < 20) AS keep
               FROM l JOIN c ON l.source = c.source AND l.unit = c.unit)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_units,
              CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              coalesce(string_agg(CASE WHEN keep THEN unit END, chr(10)
                                  ORDER BY pos), '') AS text_clean
       FROM k GROUP BY doc_id""",
    // stored boilerplate lifecycle: full-corpus carrier counts (fit on
    // even + extend with odd = the whole corpus), odd batch scrubbed
    "q122_boilerplate_stored" ->
      """WITH d AS (SELECT doc_id, source,
             coalesce(text, '') || chr(10) || 'nav-' || source || chr(10) ||
             'promo-' || CAST(doc_id % 3 AS VARCHAR) || chr(10) ||
             'rare-' || CAST(doc_id % 67 AS VARCHAR) AS t
           FROM documents),
         w AS (SELECT doc_id, source, string_split(t, chr(10)) AS ls FROM d),
         l AS (SELECT doc_id, source, CAST(i - 1 AS INT) AS pos, ls[i] AS unit
               FROM w, unnest(range(1, len(ls) + 1)) AS t(i)),
         c AS (SELECT source, unit, count(DISTINCT doc_id) AS line_df
               FROM l GROUP BY source, unit),
         k AS (SELECT l.doc_id, l.pos, l.unit, (c.line_df < 15) AS keep
               FROM l JOIN c ON l.source = c.source AND l.unit = c.unit
               WHERE l.doc_id % 2 = 1)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_units,
              CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              coalesce(string_agg(CASE WHEN keep THEN unit END, chr(10)
                                  ORDER BY pos), '') AS text_clean
       FROM k GROUP BY doc_id""",
    // per-REGISTERED-DOMAIN boilerplate: the coarse planted URL, the
    // IDENTICAL host regex, the public-suffix CASE, per-domain
    // distinct-carrier counts, the minDf threshold and every
    // reassembled string — the q108/q117 URL chain composed with the
    // q120 strip replay
    "q123_domain_boilerplate" ->
      s"""WITH u AS (SELECT doc_id, text,
             (CASE WHEN doc_id % 3 = 0 THEN 'https://' ELSE 'http://' END) ||
             (CASE WHEN doc_id % 11 = 0
                THEN 'crawler' || CAST(doc_id AS VARCHAR) || ':tok@'
                ELSE '' END) ||
             'www.hub' || CAST(doc_id % 13 AS VARCHAR) || '.' ||
             list_value('com', 'co.uk', 'org', 'github.io', 'com.au')
               [CAST(doc_id % 5 AS BIGINT) + 1] ||
             (CASE WHEN doc_id % 13 = 0 THEN ':8443' ELSE '' END) ||
             '/p/' || CAST(doc_id AS VARCHAR) AS url
           FROM documents),
         h AS (SELECT doc_id, text,
                 lower(regexp_extract(url, '${WebOps.HostPattern}', 1))
                   AS host
               FROM u),
         p AS (SELECT doc_id, text, host,
                 string_split(host, '.') AS parts FROM h),
         dom AS (SELECT doc_id, text,
                 CASE WHEN len(parts) >= 3
                        AND (parts[-2] || '.' || parts[-1]) IN
                          ('co.uk', 'ac.uk', 'gov.uk', 'org.uk', 'co.jp',
                           'com.au', 'com.br', 'github.io')
                      THEN parts[-3] || '.' || parts[-2] || '.' || parts[-1]
                      WHEN len(parts) >= 2
                      THEN parts[-2] || '.' || parts[-1]
                      ELSE host END AS domain
               FROM p),
         d AS (SELECT doc_id, domain,
             coalesce(text, '') || chr(10) || 'nav-' || domain || chr(10) ||
             'promo-' || CAST(doc_id % 3 AS VARCHAR) AS t
           FROM dom),
         w AS (SELECT doc_id, domain, string_split(t, chr(10)) AS ls FROM d),
         l AS (SELECT doc_id, domain, CAST(i - 1 AS INT) AS pos, ls[i] AS unit
               FROM w, unnest(range(1, len(ls) + 1)) AS t(i)),
         c AS (SELECT domain, unit, count(DISTINCT doc_id) AS line_df
               FROM l GROUP BY domain, unit),
         k AS (SELECT l.doc_id, l.domain, l.pos, l.unit,
                 (c.line_df < 8) AS keep
               FROM l JOIN c ON l.domain = c.domain AND l.unit = c.unit)
       SELECT doc_id, domain, CAST(count(*) AS BIGINT) AS n_units,
              CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              coalesce(string_agg(CASE WHEN keep THEN unit END, chr(10)
                                  ORDER BY pos), '') AS text_clean
       FROM k GROUP BY doc_id, domain""",
    // URL canonicalization dedup: both planted fetch variants + the
    // non-URL identity row rebuilt, the WHOLE normalization chain
    // replayed — scheme/host lowercase, userinfo strip, default-port
    // CASE, fragment strip, anchored tracking filter over the split
    // param list (order-preserving), empty-path -> '/' — then the
    // min-id keeper aggregation
    "q126_url_dedup" ->
      """WITH sfx AS (SELECT doc_id,
             list_value('com', 'co.uk', 'org', 'github.io', 'com.au')
               [CAST(doc_id % 5 AS BIGINT) + 1] AS s
           FROM documents),
         clean AS (SELECT doc_id AS id,
             (CASE WHEN doc_id % 3 = 0 THEN 'https://' ELSE 'http://' END) ||
             (CASE WHEN doc_id % 11 = 0
                THEN 'fetcher' || CAST(doc_id AS VARCHAR) || ':tok@'
                ELSE '' END) ||
             'www.page' || CAST(doc_id % 37 AS VARCHAR) || '.' || s ||
             (CASE WHEN doc_id % 13 = 0 THEN ':8443' ELSE '' END) ||
             '/a/' || CAST(doc_id AS VARCHAR) ||
             '?q=t' || CAST(doc_id % 6 AS VARCHAR) ||
             '&ref=r' || CAST(doc_id % 4 AS VARCHAR) AS url
           FROM sfx),
         noisy AS (SELECT doc_id + 1000000 AS id,
             (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' ELSE 'HTTP://' END) ||
             'WWW.PAGE' || CAST(doc_id % 37 AS VARCHAR) || '.' || upper(s) ||
             (CASE WHEN doc_id % 13 = 0 THEN ':8443'
                   WHEN doc_id % 3 = 0 THEN ':443' ELSE ':80' END) ||
             '/a/' || CAST(doc_id AS VARCHAR) ||
             '?utm_source=feed&q=t' || CAST(doc_id % 6 AS VARCHAR) ||
             '&fbclid=x&ref=r9#frag' AS url
           FROM sfx),
         nonurl AS (SELECT doc_id + 2000000 AS id,
             'not a url ' || CAST(doc_id AS VARCHAR) AS url
           FROM documents WHERE doc_id % 10 = 0),
         v6c AS (SELECT doc_id + 3000000 AS id,
             'http://[2001:db8::' || CAST(doc_id % 9 AS VARCHAR) ||
             ']/v/' || CAST(doc_id AS VARCHAR) ||
             '?q=t' || CAST(doc_id % 6 AS VARCHAR) AS url
           FROM documents WHERE doc_id % 7 = 0),
         v6n AS (SELECT doc_id + 4000000 AS id,
             'HTTP://[2001:DB8::' || CAST(doc_id % 9 AS VARCHAR) ||
             ']:80/v/' || CAST(doc_id AS VARCHAR) ||
             '?utm_source=z&q=t' || CAST(doc_id % 6 AS VARCHAR) ||
             '#frag' AS url
           FROM documents WHERE doc_id % 7 = 0),
         al AS (SELECT * FROM clean UNION ALL SELECT * FROM noisy
                UNION ALL SELECT * FROM nonurl
                UNION ALL SELECT * FROM v6c
                UNION ALL SELECT * FROM v6n),
         parts AS (SELECT id, url,
             lower(regexp_extract(url,
               '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
             regexp_extract(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/?#]+)', 1)
               AS auth,
             regexp_replace(regexp_replace(url,
               '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''), '#.*$', '')
               AS nofrag
           FROM al),
         norm AS (SELECT id, url, scheme,
             lower(regexp_extract(auth, '^(\[[^\]]*\]|[^:]+)', 1)) AS host,
             regexp_extract(auth, ':([0-9]+)$', 1) AS port,
             regexp_extract(nofrag, '^([^?]*)', 1) AS pth,
             list_filter(
               string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
               p -> p <> '' AND NOT regexp_matches(p,
                 '^(?:utm_[a-z]+|gclid|fbclid|msclkid|mc_cid|mc_eid|ref)(?:=.*)?$'))
               AS kept
           FROM parts),
         canon AS (SELECT id,
             CASE WHEN regexp_extract(url,
                    '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1) = '' THEN url
                  ELSE scheme || '://' || host ||
                    (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                            OR (scheme = 'https' AND port = '443') THEN ''
                          ELSE ':' || port END) ||
                    (CASE WHEN pth = '' THEN '/' ELSE pth END) ||
                    (CASE WHEN len(kept) > 0
                          THEN '?' || array_to_string(kept, '&')
                          ELSE '' END)
             END AS canon_url
           FROM norm)
       SELECT canon_url, CAST(min(id) AS BIGINT) AS keeper_id,
              CAST(count(*) AS BIGINT) AS n_copies
       FROM canon GROUP BY canon_url""",
    // Gopher/C4 rule grid: planting + every cross-multiplied integer
    // threshold replayed; tokens via the regexp-split formulation of the
    // word_tokens contract (strip then \s+), lines split keeping
    // trailing empties, regexp counters with (?m) line anchors
    "q128_quality_rules" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 17 = 0
                  THEN '- a' || chr(10) || '- b' || chr(10) || '- c' ||
                       chr(10) || '- d'
                  WHEN doc_id % 19 = 0
                  THEN 'First line.' || chr(10) || 'Second line!' ||
                       chr(10) || 'Third?'
                  ELSE coalesce(text, '') ||
                    (CASE WHEN doc_id % 2 = 0
                          THEN ' the of and that' ELSE '' END) ||
                    (CASE WHEN doc_id % 3 = 0
                          THEN chr(10) || 'lorem ipsum {cfg}' ELSE '' END) ||
                    (CASE WHEN doc_id % 5 = 0
                          THEN chr(10) || '- item one' || chr(10) ||
                               '- item two' ELSE '' END) ||
                    (CASE WHEN doc_id % 7 = 0
                          THEN ' ### 12345 99 ... …' ELSE '' END) ||
                    (CASE WHEN doc_id % 11 = 0
                          THEN chr(10) || 'to be continued...' ELSE '' END) ||
                    (CASE WHEN doc_id % 13 = 0
                          THEN chr(10) || 'One. Two! Three? Go.'
                          ELSE '' END)
             END AS t
           FROM documents),
         m AS (SELECT doc_id, t,
             regexp_split_to_array(
               regexp_replace(t, '^\s+|\s+$', '', 'g'), '\s+') AS ws,
             CAST(length(regexp_replace(t, '\s', '', 'g')) AS BIGINT)
               AS chars,
             CAST(len(regexp_extract_all(t, '#|\.\.\.|…')) AS BIGINT)
               AS sym,
             CAST(len(string_split(t, chr(10))) AS BIGINT) AS nl,
             CAST(len(regexp_extract_all(t, '(?m)^[ \t]*[-*•]')) AS BIGINT)
               AS bullets,
             CAST(len(regexp_extract_all(t, '(?m)(\.\.\.|…)[ \t]*$'))
               AS BIGINT) AS ell,
             CAST(len(regexp_extract_all(t, '(?m)[.!?"''][ \t]*$'))
               AS BIGINT) AS punct_lines,
             CAST(len(regexp_extract_all(t, '[.!?]')) AS BIGINT) AS sent
           FROM d),
         f AS (SELECT doc_id, t, chars, sym, nl, bullets, ell,
             punct_lines, sent,
             CAST(len(ws) AS BIGINT) AS wc,
             CAST(len(list_filter(ws,
               w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS alpha,
             CAST(len(list_intersect(list_distinct(ws),
               ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
               AS BIGINT) AS stops
           FROM m)
       SELECT doc_id,
              (wc >= 50 AND wc <= 100000) AS g_wc,
              (chars >= wc * 3 AND chars <= wc * 10) AS g_mwl,
              (sym * 10 <= wc) AS g_sym,
              (bullets * 10 <= nl * 9) AS g_bullet,
              (ell * 10 <= nl * 3) AS g_ellipsis,
              (alpha * 5 >= wc * 4) AS g_alpha,
              (stops >= 2) AS g_stop,
              (sent >= 3) AS c_sent,
              NOT contains(lower(t), 'lorem ipsum') AS c_lorem,
              NOT contains(t, '{') AS c_brace,
              (punct_lines = nl) AS c_punct,
              ((wc >= 50 AND wc <= 100000) AND
               (chars >= wc * 3 AND chars <= wc * 10) AND
               (sym * 10 <= wc) AND (bullets * 10 <= nl * 9) AND
               (ell * 10 <= nl * 3) AND (alpha * 5 >= wc * 4) AND
               (stops >= 2)) AS gopher_keep,
              ((sent >= 3) AND NOT contains(lower(t), 'lorem ipsum') AND
               NOT contains(t, '{') AND (punct_lines = nl)) AS c4_keep
       FROM f""",
    // token-budget fill: salted fingerprint order, running sums, the
    // float budget normalization (identical literal arithmetic:
    // floor(4000.0 * (w / (0.5+0.3+0.2))) summed in sorted-source
    // order) and the greedy keep-the-boundary-doc cut
    "q132_token_budget" ->
      """WITH d AS (SELECT source, doc_id, text FROM documents
               WHERE source IN ('src1', 'src2', 'src3')),
         f AS (SELECT source, doc_id,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(
                   range(1, length('tokbudget:' || COALESCE(text, '')) + 1),
                   i -> CAST(unicode(substr(
                     'tokbudget:' || COALESCE(text, ''),
                     CAST(i AS INT), 1)) AS BIGINT))),
               (a, b) -> (a*31 + b) % 1000000007) AS fp,
             CAST(len(regexp_split_to_array(
               regexp_replace(COALESCE(text, ''), '^\s+|\s+$', '', 'g'),
               '\s+')) AS BIGINT) AS n_tokens
           FROM d),
         c AS (SELECT source, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY fp, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tok_cum,
             CAST(floor(4000.0 * (CASE source
                 WHEN 'src1' THEN 0.5 WHEN 'src2' THEN 0.3
                 ELSE 0.2 END / (0.5 + 0.3 + 0.2))) AS BIGINT)
               AS tok_budget
           FROM f)
       SELECT source, doc_id, n_tokens, tok_cum, tok_budget
       FROM c WHERE tok_cum - n_tokens < tok_budget""",
    // paragraph language segmentation: planting, per-segment langGuess
    // CASE, (doc, lang) counts, the (np DESC, lang) rank, 4dp share
    "q133_lang_segments" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 25 = 0
                  THEN '这是中文段落' || chr(10) || '另一个中文段落' ||
                       chr(10) || '第三段'
                  ELSE coalesce(text, '') ||
                    (CASE WHEN doc_id % 4 = 0
                          THEN chr(10) || '这是中文段落' ELSE '' END) ||
                    (CASE WHEN doc_id % 6 = 0
                          THEN chr(10) || 'the a an of and is to the and'
                          ELSE '' END)
             END AS t
           FROM documents),
         p AS (SELECT doc_id,
                 unnest(string_split(t, chr(10))) AS para FROM d),
         l AS (SELECT doc_id,
                 CASE WHEN regexp_matches(para, '[\x{4e00}-\x{9fff}]')
                        THEN 'zh'
                      WHEN CAST(len(list_filter(string_split(para, ' '),
                          x -> x IN ('the','a','an','of','and','is','to')))
                          AS DOUBLE)
                        / greatest(len(string_split(para, ' ')), 1) >= 0.05
                        THEN 'en'
                      ELSE 'unk' END AS plang
               FROM p),
         c AS (SELECT doc_id, plang, CAST(count(*) AS BIGINT) AS np
               FROM l GROUP BY doc_id, plang),
         r AS (SELECT doc_id, plang, np,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY np DESC, plang) AS rk,
                 CAST(sum(np) OVER (PARTITION BY doc_id) AS BIGINT)
                   AS n_paras,
                 count(*) OVER (PARTITION BY doc_id) AS n_langs
               FROM c)
       SELECT doc_id, plang AS dominant_lang, n_paras,
              round(CAST(np AS DOUBLE) / CAST(n_paras AS DOUBLE), 4)
                AS dominant_frac,
              (n_langs > 1) AS is_mixed
       FROM r WHERE rk = 1""",
    // CDC compaction: base + updates + tombstones + inserts unioned,
    // (version DESC, deleted DESC) rank, tombstones dropped — the
    // delete-wins tie at id % 35 replayed
    "q134_cdc_compaction" ->
      """WITH base AS (SELECT doc_id, source, text,
             CAST(0 AS BIGINT) AS version, false AS deleted
           FROM documents),
         upd AS (SELECT doc_id, source,
             coalesce(text, '') || ' v2-edit' AS text,
             CAST(1 AS BIGINT) AS version, false AS deleted
           FROM documents WHERE doc_id % 5 = 0),
         del AS (SELECT doc_id, source, text,
             CAST(1 AS BIGINT) AS version, true AS deleted
           FROM documents WHERE doc_id % 7 = 0),
         ins AS (SELECT doc_id + 1000000 AS doc_id, source,
             'fresh ' || coalesce(text, '') AS text,
             CAST(1 AS BIGINT) AS version, false AS deleted
           FROM documents WHERE doc_id % 11 = 0),
         al AS (SELECT * FROM base UNION ALL SELECT * FROM upd
                UNION ALL SELECT * FROM del UNION ALL SELECT * FROM ins),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY version DESC,
                          CASE WHEN deleted THEN 1 ELSE 0 END DESC) AS rn
               FROM al)
       SELECT doc_id, source, text, version, deleted
       FROM r WHERE rn = 1 AND NOT deleted""",
    // Zipf fit: counts, the deterministic (n DESC, term) rank, both
    // regression aggregates and the 4dp rounding all replayed
    "q121_zipf_fit" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
               FROM documents),
         c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n
               FROM toks GROUP BY source, term),
         r AS (SELECT source, term, n,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n DESC, term) AS rk
               FROM c)
       SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
              round(regr_slope(ln(n), ln(rk)), 4) AS zipf_slope,
              round(regr_intercept(ln(n), ln(rk)), 4) AS zipf_intercept
       FROM r WHERE rk <= 256 GROUP BY source""",
    // CMS registry: the oracle recomputes the exact side — per-(source,
    // term) counts, per-source totals, the deterministic (n DESC, term)
    // top-40 rank — and pins the registry booleans: presence (the
    // registry answers every probe), never-undercount, and the eps·n_tot
    // overcount bound (the q37/q114/q116 sketch posture; the estimate
    // itself is sketch-internal and not oracle-reproducible)
    "q118_freq_registry" ->
      """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
               FROM documents),
         c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_exact
               FROM toks GROUP BY source, term),
         r AS (SELECT source, term, n_exact,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_exact DESC, term) AS rk
               FROM c)
       SELECT source, term, n_exact,
              true AS in_registry, true AS over_ok, true AS bound_ok
       FROM r WHERE rk <= 40""",
  )
}
