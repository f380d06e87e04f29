package graft

/** Plan-shape assertions — the 100 TB design contract. Correctness says the
  * answer is right; these say the PLAN is the one that survives a 1000×
  * scale-up (filters reach the parquet scan, small dims broadcast, the
  * quadratic self-join stays dead).
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q209: binned weighted median is ONE corpus aggregate + bin-grain windows, no join") {
    val plan = planOf("q209_wmedian_binned")
    assert(!plan.contains("Join"), plan)
    // exactly two exchanges: the partial-combined (flag, bin) aggregate
    // and the bin-grain window repartition — the corpus enters one.
    // (count node headers — the formatted details repeat node names)
    val n = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(n == 2, s"expected 2 exchanges, got $n:\n$plan")
    assert(plan.contains("partial_sum"), plan)
  }

  test("q222: triangles' executed plan reads ONE materialized oriented relation (r16 verdict #1)") {
    val plan = planOf("q222_triangles")
    // the r16 weak: the pure-lineage form re-derived the
    // symmetrize+degree+orient pyramid per reference — 120 parquet
    // scans / 38 exchanges. With the oriented relation checkpointed
    // once, the executed plan is only the wedge + closing stage: zero
    // parquet scans (the one edge derivation ran in the checkpoint
    // jobs), every leaf a scan of the SAME checkpointed RDD, and at
    // most 7 edge-shaped exchanges (verdict ceiling; actual: 4 — two
    // wedge sides, the wedge repartition on (b,c), the closing union)
    assert(!plan.contains("Scan parquet"),
      s"triangles re-derived its edge relation from the source:\n$plan")
    val rddScans = "Scan ExistingRDD".r.findAllIn(plan).size
    assert(rddScans >= 1, plan)
    assert(plan.contains("localCheckpoint at Graph.scala"), plan)
    // ONE materialized relation feeds every leaf: a single distinct
    // checkpointed RDD id across all ExistingRDD scans
    val rddIds = "MapPartitionsRDD\\[\\d+\\]".r.findAllIn(plan).toSet
    assert(rddIds.size == 1,
      s"expected one checkpointed relation, saw $rddIds:\n$plan")
    val n = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(n <= 7, s"expected <= 7 exchanges, got $n:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q238: node health composes on the same materialized relations — no parquet re-derivation") {
    val plan = planOf("q238_graph_health")
    assert(!plan.contains("Scan parquet"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q241: overlap join is an equi-join on the grid cell — no nested loop, one exchange per side") {
    val plan = planOf("q241_overlap_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"interval join fell back to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    val n = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(n <= 2, s"expected <= 2 exchanges (one per side), got $n:\n$plan")
  }

  test("q245: readability is scan-only — zero exchanges, zero joins") {
    val plan = planOf("q245_readability")
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("q246: compaction plan is two sort windows, no join") {
    val plan = planOf("q246_compaction_plan")
    assert(!plan.contains("Join"), plan)
    val n = "\\(\\d+\\) Exchange".r.findAllIn(plan).size
    assert(n <= 2, s"expected <= 2 exchanges (the two window keys), got $n:\n$plan")
  }

  test("q244/q247: iterative graph ops execute on checkpointed relations — no parquet re-derivation") {
    for (name <- Seq("q244_kcore_peel", "q247_hits")) {
      val plan = planOf(name)
      assert(!plan.contains("Scan parquet"),
        s"$name re-derived its graph from the source:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
    }
  }

  test("q249: binned quantile normalization never sorts the corpus — no rangepartitioning") {
    val plan = planOf("q249_quantile_norm_binned")
    // q248 is the documented global-sort comparator; the production
    // sibling must keep the corpus out of a range exchange entirely
    assert(!plan.contains("Exchange rangepartitioning"),
      s"binned path picked up a global sort:\n$plan")
    // the two BroadcastNestedLoopJoins are the documented bounded
    // class: a 1-row scalar-total broadcast and the BINS-cardinality
    // cumulative table broadcast into the position range join — the
    // corpus side never builds
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q250: co-occurrence pairs explode in place — the basket self-join is gone") {
    val plan = planOf("q250_cooccurrence")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"basket pair generation fell back to a nested loop:\n$plan")
    // r21 rewrite (guide §2.3/§2.4): pairs come from a per-basket
    // sorted-array explode riding the window's basket partitioning —
    // no join of any strategy may appear in the plan
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastHashJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"basket self-join reappeared:\n$plan")
    assert(plan.contains("Generate") && plan.contains("explode"),
      s"per-basket pair explode missing:\n$plan")
  }

  test("q252: label propagation executes on checkpointed relations — no parquet re-derivation") {
    val plan = planOf("q252_label_prop")
    assert(!plan.contains("Scan parquet"),
      s"label propagation re-derived its graph from the source:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q253: jaccard join reads TWO checkpointed relations (token sets + prefixes), joins hash-wise") {
    val plan = planOf("q253_jaccard_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // r16 lesson (one materialized prefix relation for the posting
    // self-join) extended in r20 to the BASE token sets: the verify
    // joins and the prefix derivation all read one checkpointed
    // (id, toks) relation, so the upstream shingle pipeline executes
    // once — exactly TWO distinct checkpointed relations, never a
    // parquet re-derivation per consumer
    assert(plan.contains("localCheckpoint at Dedup.scala"), plan)
    assert(!plan.contains("Scan parquet"),
      s"verify side re-derived the corpus from the source:\n$plan")
    val rddIds = "MapPartitionsRDD\\[\\d+\\]".r.findAllIn(plan).toSet
    assert(rddIds.size == 2,
      s"expected the checkpointed token-set and prefix relations, saw $rddIds:\n$plan")
  }

  test("q255: attribution is one equi-join on the user key plus ranking windows — no nested loop") {
    val plan = planOf("q255_attribution")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"lookback predicate must ride the user equi-join as a filter:\n$plan")
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("q257: Theil-Sen's pair join runs on the checkpointed day grid, never the corpus") {
    val plan = planOf("q257_theil_sen")
    // the corpus day-count aggregate ran inside the localCheckpoint
    // jobs; the executed plan's quadratic stage reads only the
    // materialized DAY-GRID relation
    assert(!plan.contains("Scan parquet"),
      s"pair join re-derived the grid from the source:\n$plan")
    assert(plan.contains("localCheckpoint at AnalyticQueries.scala"), plan)
    val rddIds = "MapPartitionsRDD\\[\\d+\\]".r.findAllIn(plan).toSet
    assert(rddIds.size == 1,
      s"expected one checkpointed grid, saw $rddIds:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q258: aHash decode is scan-shaped — zero exchanges, zero joins, bytes never shuffle") {
    val plan = planOf("q258_ahash_decode")
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange"),
      s"image bytes crossed an exchange:\n$plan")
  }

  test("q259: aHash near-dup joins hash-wise over ONE materialized fingerprint relation") {
    val plan = planOf("q259_ahash_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"band bucket join fell back to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    // the decode pipeline ran once, inside the checkpoint job — all
    // four references read the same 28-byte-per-row relation
    assert(plan.contains("localCheckpoint at Multimodal.scala"), plan)
    val rddIds = "MapPartitionsRDD\\[\\d+\\]".r.findAllIn(plan).toSet
    assert(rddIds.size == 1,
      s"expected one checkpointed fingerprint relation, saw $rddIds:\n$plan")
  }

  test("q260/q261: audio fingerprint is scan-shaped; its near-dup joins hash-wise") {
    val plan260 = planOf("q260_audio_fingerprint")
    assert(!plan260.contains("Join"), plan260)
    assert(!plan260.contains("Exchange"),
      s"audio bytes crossed an exchange:\n$plan260")
    val plan261 = planOf("q261_audio_neardup")
    assert(!plan261.contains("CartesianProduct") &&
      !plan261.contains("BroadcastNestedLoopJoin"), plan261)
    assert(plan261.contains("SortMergeJoin") ||
      plan261.contains("BroadcastHashJoin"), plan261)
  }

  test("q273/q274: video fingerprint is one partial-combined vote aggregate; its near-dup joins hash-wise over ONE materialized relation") {
    val plan273 = planOf("q273_video_fingerprint")
    assert(!plan273.contains("Join"), plan273)
    // the frame bytes never shuffle: slicing and hashing run on the
    // scan partitions, and the ONLY exchange is the media-keyed vote
    // aggregate over 20-byte hash rows, 64 counters partial-combined
    val n = "\\(\\d+\\) Exchange".r.findAllIn(plan273).size
    assert(n == 1, s"expected 1 exchange (the vote aggregate), got $n:\n$plan273")
    assert(plan273.contains("partial_sum") ||
      plan273.contains("partial_count"), plan273)
    val plan274 = planOf("q274_video_neardup")
    assert(!plan274.contains("CartesianProduct") &&
      !plan274.contains("BroadcastNestedLoopJoin"),
      s"band bucket join fell back to a nested loop:\n$plan274")
    assert(plan274.contains("SortMergeJoin") ||
      plan274.contains("BroadcastHashJoin"), plan274)
    // the slice+hash+vote pipeline ran once, inside the checkpoint job
    // (the hammingNearDup discipline) — all four references read the
    // same 28-byte-per-row fingerprint relation
    assert(plan274.contains("localCheckpoint at Multimodal.scala"), plan274)
    val rddIds = "MapPartitionsRDD\\[\\d+\\]".r.findAllIn(plan274).toSet
    assert(rddIds.size == 1,
      s"expected one checkpointed fingerprint relation, saw $rddIds:\n$plan274")
  }

  test("q275: retraction-join maintenance plans hash joins only — the null-safe state merge never nests") {
    val plan = planOf("q275_retract_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"a delta term or the <=> state merge fell back to a nested loop:\n$plan")
    // the apply half is ONE full-outer merge at state grain
    assert(plan.contains("FullOuter"), plan)
  }

  test("q262: kappa is ONE corpus aggregate; everything after runs at label grain") {
    val plan = planOf("q262_cohen_kappa")
    // the only corpus-sized structure is the (label_a, label_b)
    // partial-combined aggregate; marginals/joins are labels²-grain
    // the corpus scan+aggregate ran once inside the localCheckpoint
    // job; the executed plan reads the labels²-grain matrix only
    assert(!plan.contains("Scan parquet"),
      s"kappa re-derived the confusion matrix from the source:\n$plan")
    assert(plan.contains("localCheckpoint at Classify.scala"), plan)
    val rddIds = "MapPartitionsRDD\\[\\d+\\]".r.findAllIn(plan).toSet
    assert(rddIds.size == 1,
      s"expected one checkpointed matrix, saw $rddIds:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q264: containment join is hash joins on the token key — no nested loop") {
    val plan = planOf("q264_containment_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"posting join fell back to a nested loop:\n$plan")
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("q270: cross media near-dup reads the STORED fingerprints — no base re-decode") {
    val plan = planOf("q270_media_cross_neardup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the batch half decoded inside its checkpoint job; the base half
    // is the stored parquet relation — so the executed plan's only
    // parquet scans read the index directory, never documents
    assert(plan.contains("localCheckpoint at Multimodal.scala"), plan)
    assert(!plan.contains("Scan parquet documents") &&
      !plan.toLowerCase.contains("documents.parquet"),
      s"base side re-decoded the corpus:\n$plan")
  }

  test("q271: binned quantiles is ONE corpus aggregate + bin-grain windows, no join") {
    val plan = planOf("q271_binned_quantiles")
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"quantile read picked up a global sort:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial_sum"),
      plan)
  }

  test("q240: ranking metrics join hash-wise and aggregate at query grain — no nested loop") {
    val plan = planOf("q240_ranking_metrics")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q221: the null-safe join plans as a hash join on an EqualNullSafe key, never a nested loop") {
    val plan = planOf("q221_nullsafe_join")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("knownfloatingpointnormalized") ||
      plan.contains("coalesce") || plan.contains("<=>"),
      s"null-safe key shape missing:\n$plan")
  }

  test("q227: the bloom probe is a scan + scalar subquery — the corpus never joins the filter") {
    val plan = planOf("q227_bloom_scrub")
    assert(plan.contains("Subquery") || plan.contains("scalar-subquery"),
      plan)
    assert(plan.contains("might_contain"), plan)
    // one corpus aggregate for the summary — no join operator at all
    assert(!plan.contains("Join"), plan)
  }

  test("q230: golden record is one partial-combined id aggregate — no window, no join") {
    val plan = planOf("q230_golden_record")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
    assert(plan.contains("partial_max"), plan)
  }

  test("q02: equality filter is pushed into the parquet scan") {
    val plan = planOf("q02_filter_eq")
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("EqualTo(c_custkey,42)"), plan)
  }

  test("q01: scan reads only the projected columns") {
    val plan = planOf("q01_scan_project")
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("r_comment"), "projection should prune unread columns")
  }

  test("q07: dimension joins are broadcast, fact side is not shuffled for the join") {
    val plan = planOf("q07_join_bcast")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q10: pair counting has no join at all") {
    val plan = planOf("q10_selfjoin_agg")
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("q11: aggregation is partial (map-side combine) before the shuffle") {
    val plan = planOf("q11_agg_pricing")
    assert(plan.contains("HashAggregate"), plan)
    // partial agg appears below the exchange: two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q16: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planOf("q16_topk")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q23: near-dup dedup never plans a cartesian or nested-loop join") {
    val plan = planOf("q23_neardup_minhash")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q28: ANN scores via a broadcast of the small query side") {
    val plan = planOf("q28_ann_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ANN top-k is a bounded partial aggregation, not a per-query window sort") {
    // round-2 verdict #3: the row_number() formulation shuffled ALL scored
    // rows into one window partition per query and fully sorted each —
    // a single-reducer sort at 100× scale. The TopKAgg plan must show a
    // partial+final object aggregate and no Window/Sort of the scored rows.
    for (q <- Seq("q28_ann_topk", "q51_ann_ivf")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"),
        s"$q must not rank via a window:\n$plan")
      assert(plan.contains("ObjectHashAggregate"),
        s"$q should aggregate top-k via ObjectHashAggregate:\n$plan")
      assert(plan.contains("partial_topkagg") || plan.contains("TopKAgg") ||
        plan.contains("topkagg"),
        s"$q should carry the partial top-k aggregate:\n$plan")
    }
  }

  test("q37: no exact-percentile single-buffer object aggregate remains") {
    // round-2 verdict #2: percentile() over the whole table collected every
    // value into ONE task's aggregation buffer; both quantile estimates
    // must now be bounded sketches (percentile_approx).
    val plan = planOf("q37_approx_sketch")
    assert(!plan.contains("percentile("),
      s"exact percentile must not appear:\n$plan")
    assert(plan.contains("percentile_approx"), plan)
  }

  test("q35: semi/anti joins plan as semi/anti (no row fan-out)") {
    val plan = planOf("q35_semi_anti")
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
  }

  test("q54: correlated EXISTS decorrelates to one semi join, no subquery") {
    val plan = planOf("q54_exists_subquery")
    // RewritePredicateSubquery must turn the EXISTS into a LeftSemi hash
    // join on l_orderkey = o_orderkey — a per-row subquery would show up
    // as an InSubquery/Subquery node and be unrunnable at 100 TB.
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.toLowerCase.contains("subquery"), plan)
    // the date-range filter still reaches the orders scan
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("IsNotNull(o_orderdate)") ||
      plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
  }

  test("q55: dataset split is scan-only — no shuffle, no join") {
    val plan = planOf("q55_dataset_split")
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    // only the two needed columns are read
    assert(!plan.contains("embedding"), plan)
  }

  test("q56: cross-corpus SQL joins broadcast; heavy columns never read") {
    val plan = planOf("q56_sql_cross_corpus")
    // both dimension joins hash-broadcast — a sort-merge join here would
    // mean shuffling the event fact table twice before the aggregation
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the catalog registers the FULL documents/embeddings schemas, but the
    // scan must read neither the document text nor the embedding vectors —
    // at 100 TB those two columns ARE the corpus
    assert(!plan.contains("text"), plan)
    assert(!plan.contains("embedding:"), plan)
    // exactly one shuffle: the final aggregation (broadcast exchanges are
    // not data shuffles). Formatted explain names each node twice (tree +
    // detail section) — count the numbered detail headers only.
    val shuffles = "\\(\\d+\\) Exchange\\b".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected 1 aggregation shuffle, got $shuffles:\n$plan")
  }

  test("q57: contamination broadcasts the probe side, no cartesian") {
    val plan = planOf("q57_contamination")
    // the eval-set n-grams broadcast; the corpus is never self-joined
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q58: repetition profile is scan-only before the rollup") {
    val plan = planOf("q58_repetition")
    // per-row native ngram_stats: no bigram explode, no id join — one
    // corpus scan, one rollup shuffle
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Generate"), s"no explode should remain:\n$plan")
    val shuffles = "\\(\\d+\\) Exchange\\b".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected only the rollup shuffle:\n$plan")
  }

  test("q62: sub-document dedup is two key shuffles, no cartesian, partial aggs") {
    val plan = planOf("q62_line_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // corpus-scale shuffles: the unit-keyed first-occurrence aggregation
    // and the doc-keyed reassembly — nothing else. (The first-occurrence
    // join side is a BroadcastExchange at this SF, counted separately.)
    val shuffles = "\\(\\d+\\) Exchange\\b".r.findAllIn(plan).size
    assert(shuffles == 2, s"expected exactly two key shuffles:\n$plan")
    // min(struct) partial-aggregates below its exchange (two SortAggregate
    // nodes) — the map-side combine that keeps the shuffle per-key-sized
    assert("SortAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q67: the leakage audit materializes the corpus once — no parquet re-scan") {
    val plan = planOf("q67_split_leakage")
    // the split-labeled projection is localCheckpoint'ed inside the
    // operator (one eager corpus scan at build time); every branch —
    // eval probe, train band index, train shingles — must read the
    // checkpointed RDD, never re-execute the parquet scan (the r8 sf1
    // probe measured the un-materialized form scanning three times)
    assert(!plan.contains("Scan parquet"),
      s"corpus parquet must not be re-scanned by audit branches:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"expected the checkpointed projection feeding the audit:\n$plan")
  }

  test("q59: mixture sampling is scan-only before the rollup") {
    val plan = planOf("q59_mixture_sample")
    // content-keyed filtering is a pure per-row expression: exactly one
    // shuffle (the per-source count), no join, no sampling pass
    assert(!plan.contains("Join"), plan)
    val shuffles = "\\(\\d+\\) Exchange\\b".r.findAllIn(plan).size
    assert(shuffles == 1, s"expected only the rollup shuffle:\n$plan")
  }

  test("q43: as-of join plans as union + window — zero join operators") {
    val plan = planOf("q43_asof_join")
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
  }

  test("q44: range join broadcasts the bands side") {
    val plan = planOf("q44_range_join")
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q48: funnel is a single aggregation pass, no self-join") {
    val plan = planOf("q48_funnel")
    assert(!plan.contains("Join"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final aggregation:\n$plan")
  }

  test("q50: vector quantization is scan-only (no shuffle at all)") {
    val plan = planOf("q50_vector_quantize")
    assert(!plan.contains("Exchange"), plan)
  }

  test("q64: incremental dedup — no cartesian, capped index agg, equi-joins only") {
    val plan = planOf("q64_incremental_dedup")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the base index is the size-capped collector, never collect_set
    assert(plan.toLowerCase.contains("cappedidsetagg"), plan)
    assert(!plan.contains("collect_set"), plan)
  }

  test("q65: shuffle-shard is ONE exchange on the shard key + in-shard sort") {
    val plan = planOf("q65_shuffle_shard")
    assert("""Exchange \(\d+\)""".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("Window"), plan)
    assert(plan.contains("hashpartitioning(shard"),
      s"the one exchange must be keyed on the shard (a range partition " +
        s"would be a global sort):\n$plan")
  }

  test("q66: packing REUSES the shard exchange — still one shuffle composed") {
    val plan = planOf("q66_pack_sequences")
    assert("""Exchange \(\d+\)""".r.findAllIn(plan).size === 1, plan)
    // two windows (rank + running sum) over the one exchange
    assert("""Window \(\d+\)""".r.findAllIn(plan).size >= 2, plan)
  }

  test("q81: composed curation export stays at its TWO-shuffle floor") {
    // rebalance (per-source rank window) + shard layout (per-shard
    // window, REUSED by packing) — the composition must not add a third
    // corpus shuffle; the |weights|-row plan table broadcasts (excluded
    // from the count via the Broadcast prefix)
    val plan = planOf("q81_curate_export")
    assert("""(?<!Broadcast)Exchange \(\d+\)""".r.findAllIn(plan).size === 2,
      plan)
    assert("""Window \(\d+\)""".r.findAllIn(plan).size >= 3,
      s"rank + pos + running-sum windows expected:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the plan table must broadcast:\n$plan")
  }

  test("q69: bm25 restricts postings map-side and reads ONE materialized tf relation") {
    val df = SparkEntry.queries("q69_bm25_retrieval")(spark, sfDir)
    // the semi-restriction to query terms must be a broadcast join (the
    // corpus side never shuffles unrestricted postings)...
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // ...and the df aggregate and the score join must read ONE
    // checkpointed tf relation (r21: the pre-r21 shape relied on AQE
    // exchange reuse to collapse the duplicate tf subtree — a runtime
    // accident of exact subtree equality; the checkpoint makes the
    // single corpus explode structural)
    assert(plan.contains("localCheckpoint at Retrieval.scala"), plan)
    val rddScans = "Scan ExistingRDD".r.findAllIn(plan).size
    assert(rddScans >= 2, s"expected both tf consumers on the " +
      s"checkpointed relation, saw $rddScans ExistingRDD scans:\n$plan")
    val rddIds = "MapPartitionsRDD\\[\\d+\\]".r.findAllIn(plan).toSet
    assert(rddIds.size == 1,
      s"expected ONE checkpointed tf relation, saw $rddIds:\n$plan")
  }

  test("stored postings probe: the query-term IN filter reaches the parquet scan") {
    import spark.implicits._
    val docs = Seq((1L, "apple banana cherry"), (2L, "banana durian fig"),
      (3L, "unrelated words entirely")).toDF("doc_id", "text")
    val dir = tempDir("graft-postings-plan")
    ops.Retrieval.fitPostings(docs).save(dir)
    val probe = ops.Retrieval.probePostings(
      ops.Retrieval.loadPostings(spark, dir),
      Seq((9L, "apple banana")).toDF("query_id", "qtext"))
    val plan = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the whole point of the stored layout: the probe is an INDEXED read —
    // the term restriction is a data-skipping scan filter, not a
    // post-scan semi-join over full postings
    assert(plan.contains("In(term"), plan)
    assert(plan.contains("PushedFilters"), plan)
  }

  test("q70: stratified sample — broadcast counts, prune below the rank window") {
    val plan = planOf("q70_stratified_sample")
    // ONE shuffle exchange — the survivors' window ("- Exchange ("
    // excludes BroadcastExchange). The per-stratum counts are a literal
    // relation (collected once, |strata|-bounded) broadcast back onto
    // the corpus, and the zero-survivor sentinel union references the
    // same literal rows — no second corpus-sized shuffle, no second scan
    // in this plan
    assert("""- Exchange \(\d+\)""".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the sentinel rows ride a Union over a LocalTableScan — the guard's
    // per-stratum row exists even when a stratum keeps zero survivors
    assert(plan.contains("Union"), plan)
    assert(plan.contains("LocalTableScan"), plan)
  }

  test("q71: vocab cut is a TakeOrdered, vocabulary broadcast onto tokens") {
    val plan = planOf("q71_vocab_oov")
    // the global top-vocabSize cut must not be a full sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // vocabulary joins back as a broadcast (left outer marks OOV)
    assert(plan.contains("BroadcastHashJoin LeftOuter"), plan)
    // two corpus-sized shuffles only: term counts and the per-doc agg
    assert("""- Exchange \(\d+\)""".r.findAllIn(plan).size === 2, plan)
  }

  test("q86: intra-doc dedup is scan -> project, ZERO exchanges") {
    val plan = planOf("q86_intradoc_dedup")
    // the whole operator is per-row higher-order-function work: nothing
    // may shuffle, aggregate, or window — full scan bandwidth at 100 TB
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.contains("Scan parquet") || plan.contains("FileScan"), plan)
  }

  test("q88: DSIR select — bounded log-ratio broadcast, top-n is a TakeOrdered") {
    val plan = planOf("q88_dsir_select")
    // the numBuckets-row log-ratio table must join back as a broadcast
    // (never a corpus-side shuffle on bucket)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the top-100 cut must not be a global sort of the per-doc scores
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the doc-score and histogram aggregates partial-combine map-side
    assert(plan.contains("partial_"), plan)
  }

  test("q108: per-domain cap prunes map-side (WindowGroupLimit) before ONE exchange") {
    val plan = planOf("q108_domain_cap")
    // the rank<=n filter must reach the window as a group limit — the
    // partial (pre-shuffle) instance is what bounds a crawl-heavy
    // domain's exchanged rows at n x partitions instead of its page count
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2, plan)
    // one corpus shuffle (the domain key), no joins, no aggregates
    assert("""- Exchange \(\d+\)""".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("q113: NB classifier — vocab weights broadcast, both aggs partial-combined") {
    val plan = planOf("q113_nb_classifier")
    // the vocabulary-sized weight table joins the doc-term counts as a
    // broadcast (LeftOuter: unseen terms take the default weight)
    assert(plan.contains("BroadcastHashJoin LeftOuter"), plan)
    // token histograms and per-doc sums partial-combine map-side
    assert(plan.contains("partial_"), plan)
    // no corpus-sized sort anywhere (the vocab window is vocab-sized)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q119: recursive CTE runs as UnionLoop; the step is join-free") {
    val plan = planOf("q119_recursive_cte")
    // the loop operator itself — not an unrolled union or a rewrite
    assert(plan.contains("UnionLoop"), plan)
    assert(plan.contains("UnionLoopRef"), plan)
    // the recursive step must stay filter+project over the frontier: a
    // join inside the loop would pay one shuffle PER LEVEL at scale
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan)
  }

  test("q124: recursive edge-join CTE — UnionLoop with a logical step join, AQE outside the loop") {
    val plan = planOf("q124_recursive_edge_join")
    assert(plan.contains("UnionLoop"), plan)
    assert(plan.contains("UnionLoopRef"), plan)
    // the step joins the frontier to the edge RELATION — exactly one
    // join, and it stays LOGICAL inside the loop (UnionLoopExec
    // re-plans each level with the materialized frontier substituted,
    // so the physical strategy is chosen per level with real frontier
    // stats; a compile-time-frozen BHJ/SMJ node here would mean the
    // loop could never adapt to a shrinking frontier)
    assert("Join \\(\\d+\\)".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan)
    // adaptive planning wraps only the FINAL aggregate, not the loop
    val loopIdx = plan.indexOf("UnionLoop")
    val aqeIdx = plan.indexOf("AdaptiveSparkPlan")
    assert(aqeIdx >= 0 && aqeIdx < loopIdx, plan)
  }

  test("q125: LATERAL — generator planned as Generate, LIMIT-ed lateral decorrelated to a pruned rank") {
    val plan = planOf("q125_lateral")
    // the LATERAL VIEW posexplode is a Generate on the scan side
    assert(plan.contains("Generate"), plan)
    // the ORDER BY+LIMIT lateral subquery decorrelates into a window
    // rank with WindowGroupLimit map-side pruning — NOT a per-outer-row
    // re-execution and NOT a cartesian
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q163: join hints honored — BroadcastHashJoin AND SortMergeJoin coexist as hinted") {
    val plan = planOf("q163_join_hints")
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the MERGE hint must survive even though nation is broadcastable
    // (and AQE would otherwise demote the SMJ at runtime)
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("q08: both filters sit below the joins") {
    val optimized = SparkEntry.queries("q08_join_3way")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    // Catalyst pushes the mktsegment/returnflag predicates to the scans —
    // the rewrite the reference needs its R2 rule for (raopt.py:90-173)
    val joinIdx = optimized.indexOf("Join")
    val filterIdx = optimized.lastIndexOf("Filter")
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"expected filters below joins:\n$optimized")
  }
}
