package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seed-set quality classifier — the public GPT-3 / WebText curation
  * posture (Brown et al. 2020, Appendix A; the fastText-style filtering
  * classifier of Joulin et al. 2016): label a small CURATED seed set as
  * positive, the raw crawl as negative, fit a bag-of-words classifier,
  * and keep raw documents the classifier scores curated-like.
  *
  * The model is multinomial Naive Bayes, which for scoring REDUCES TO A
  * LINEAR MODEL over integer token counts: per-term weight
  * `w(t) = ln p̂(t|target) − ln p̂(t|raw)` (add-α smoothed over the joint
  * vocabulary), a bias `ln(n_target/n_raw)` from the class priors, and a
  * default weight for unseen terms from the smoothing floors. That
  * linearity is what makes it the ONE classical text classifier whose
  * every decision an independent engine can replay exactly — integer
  * count aggregation is order-independent, and the per-term/per-doc
  * rounding follows the repo's round-inside-round contract — where a
  * gradient-trained model's float accumulation order would not be.
  *
  * Deliberately DISTINCT from [[TextOps.importanceSelect]] (DSIR):
  * DSIR ranks by a hashed-BUCKET likelihood ratio to top-n-resample
  * toward a target distribution; this is a calibrated per-document
  * keep/drop DECISION over the full vocabulary with class priors — the
  * filtering stage, not the resampling stage, of the same pipeline.
  *
  * Scale shape (fit): ONE labeled-corpus tokenize+explode ending in a
  * (term)-grain partial-combined aggregate; class totals come from an
  * unbounded window over the vocabulary-sized table (the
  * [[TextOps.fitImportanceModel]] pattern — no second corpus scan) and
  * the three scalars (bias, default weight) from a ONE-ROW aggregate
  * collect. Scoring: the batch's own tokenize+aggregate plus one
  * term-key join against the vocabulary-sized weight table — broadcast
  * when it fits executors (`broadcastModel`), shuffle join for 100M-term
  * vocabularies, the [[TextOps.unigramSurprisal]] flag.
  */
object Classify {

  /** A fitted seed-set classifier: vocabulary-sized `(term, w)` weights
    * plus the bias (prior log-odds), the unseen-term default weight, and
    * the smoothing α it was fit with. Fit once per seed-set version
    * ([[fitNbClassifier]]), persist ([[saveNbModel]] / [[loadNbModel]],
    * tokenizer-scheme-versioned), score every ingest batch for the cost
    * of the batch's own token pass ([[nbScore]]).
    */
  case class NbModel(weights: DataFrame, bias: Double, defaultW: Double,
                     alpha: Double)

  /** Fit the classifier from a labeled corpus: `isTarget` marks the
    * curated seed docs, everything else is the raw class. Add-`alpha`
    * smoothing over the JOINT vocabulary keeps both class likelihoods
    * finite on every term either class saw; terms NEITHER saw take the
    * default weight at score time. Weights are rounded 9 dp (the
    * cross-engine contract); bias and default weight likewise.
    */
  def fitNbClassifier(df: DataFrame, textCol: String, isTarget: Column,
                      alpha: Double = 1.0): NbModel = {
    require(alpha > 0, s"fitNbClassifier: alpha must be > 0, got $alpha")
    val docCounts = df.agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("nt"),
      sum(when(!isTarget, 1L).otherwise(0L)).as("nr")).head()
    val (nT, nR) = (docCounts.getLong(0), docCounts.getLong(1))
    require(nT > 0 && nR > 0,
      s"fitNbClassifier: need both classes non-empty, got target=$nT raw=$nR")
    // vocabulary-sized term counts, materialized ONCE: the `tot` scalar
    // read below executes this corpus tokenize+aggregate eagerly at fit
    // time, and the lazy `weights` lineage re-ran the whole pass again
    // per scoring consumer (r20 profile: q117/q181's repeated ~150 ms
    // single-task tokenize stages). The checkpoint is vocab-grain —
    // never corpus-grain — so its cost is the one pass the fit owes.
    val tc = df.select(isTarget.as("__is_t"),
        explode(TextOps.tokens(col(textCol))).as("__term"))
      .groupBy(col("__term"))
      .agg(sum(when(col("__is_t"), 1L).otherwise(0L)).cast("double").as("ct"),
        sum(when(!col("__is_t"), 1L).otherwise(0L)).cast("double").as("cr"))
      .localCheckpoint(true)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val weights = tc
      .withColumn("__tt", sum(col("ct")).over(wAll))
      .withColumn("__tr", sum(col("cr")).over(wAll))
      .withColumn("__v", count(lit(1)).over(wAll).cast("double"))
      .select(col("__term").as("term"), round(
        log((col("ct") + alpha) / (col("__tt") + col("__v") * alpha)) -
          log((col("cr") + alpha) / (col("__tr") + col("__v") * alpha)),
        9).as("w"))
    // the same totals as ONE row (vocab-sized aggregate, 1-row collect)
    // for the two scalar constants
    val tot = tc.agg(sum(col("ct")), sum(col("cr")),
      count(lit(1)).cast("double")).head()
    val (tt, tr, v) = (tot.getDouble(0), tot.getDouble(1), tot.getDouble(2))
    val bias = BigDecimal(math.log(nT.toDouble) - math.log(nR.toDouble))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val defaultW = BigDecimal(
      math.log(alpha / (tt + alpha * v)) - math.log(alpha / (tr + alpha * v)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    NbModel(weights, bias, defaultW, alpha)
  }

  /** Persist a fitted [[NbModel]] through [[graft.Store]] (weights, the
    * scalars, and [[TextOps.TokenizerScheme]] as the scheme: a model
    * hashed under one tokenizer and scored under another silently
    * mis-scores every doc, so the mismatch fails loudly at load).
    */
  def saveNbModel(m: NbModel, path: String): Unit =
    graft.Store.save(path, "NbModel", TextOps.TokenizerScheme,
      Seq("alpha" -> m.alpha, "bias" -> m.bias, "default_w" -> m.defaultW),
      "weights" -> m.weights)

  /** Read a stored [[NbModel]]; a stale tokenizer scheme fails loudly
    * here. */
  def loadNbModel(spark: SparkSession, path: String): NbModel = {
    val l = graft.Store.load(spark, path, "NbModel", TextOps.TokenizerScheme)
    NbModel(l("weights"), l.double("bias"), l.double("default_w"),
      l.double("alpha"))
  }

  /** Score a document batch under a fitted [[NbModel]]: per doc the
    * class log-odds
    * `round(Σ_t cnt(doc,t)·w(t) + bias, 4)` (per-term contributions
    * rounded 9 dp first — the round-inside-round contract) and the
    * keep/drop decision at `threshold`. Cost is the batch's own
    * tokenize+aggregate plus one term-key join against the
    * vocabulary-sized weight table (`broadcastModel` picks broadcast vs
    * shuffle join) plus one id-keyed join back onto the input ids.
    *
    * Output: `(doc_id, nb_logodds, keep)`, ONE ROW PER INPUT DOC — the
    * annotate-never-drop contract shared with the streaming twin
    * ([[graft.streaming.DocumentStreams]].nbStream): a NULL-text doc
    * scores NULL/NULL (un-scorable, surfaced not silently lost), an
    * empty-but-non-NULL text scores its one degenerate `""` token like
    * any other (the [[TextOps.tokens]] edge contract), so compositions
    * that join scores back to the corpus lose nothing.
    *
    * The per-doc sum is ORDER-FREE: each 9dp-rounded contribution is
    * cast to `DECIMAL(38,9)` (exact, since a 9dp value's nearest double
    * round-trips through its shortest decimal form at these magnitudes)
    * and decimal addition is exact integer arithmetic — so the 4dp
    * log-odds never depends on Spark's aggregation order, and the
    * streaming twin's per-doc accumulation reproduces it bit-for-bit.
    */
  def nbScore(docs: DataFrame, idCol: String, textCol: String, m: NbModel,
              threshold: Double = 0.0,
              broadcastModel: Boolean = true): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(col(textCol)).as("__toks"))
    val dt = base.select(col("doc_id"), explode(col("__toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("__cnt"))
    val wdf = if (broadcastModel) broadcast(m.weights) else m.weights
    val scored = dt.join(wdf, Seq("term"), "left")
      .withColumn("__contrib",
        round(col("__cnt") * coalesce(col("w"), lit(m.defaultW)), 9)
          .cast("decimal(38,9)"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("__contrib")).cast("double") + m.bias, 4)
        .as("__sc"))
    base.select(col("doc_id"), col("__toks").isNotNull.as("__scorable"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("nb_logodds",
        when(col("__scorable"), col("__sc")))
      .select(col("doc_id"), col("nb_logodds"),
        (col("nb_logodds") > threshold).as("keep"))
  }

  /** Preference-pair construction — the DPO/RLHF data-prep shape: a
    * pool of scored candidate responses per prompt becomes one
    * (chosen, rejected) pair — chosen = the score-max candidate,
    * rejected = the score-min — with DETERMINISTIC tie-breaking baked
    * into the aggregate itself: candidates compare as the struct
    * (score, id), so equal scores resolve by id identically on any
    * partitioning (`max_by`/`min_by` would be nondeterministic under
    * ties, the classic silent-flakiness source in preference
    * pipelines). A pair is emitted only when chosen_score STRICTLY
    * exceeds rejected_score — a preference pair requires a preference,
    * so singleton pools and all-equal-score pools emit nothing (a
    * 0-margin pair teaches a DPO objective nothing and a noisy-label
    * risk besides). One prompt-keyed aggregate, no window, no
    * self-join; margin is exact when scores are integers.
    */
  def preferencePairs(scored: DataFrame, promptCol: String,
                      idCol: String, scoreCol: String): DataFrame = {
    val cand = struct(col(scoreCol).as("s"), col(idCol).as("i"))
    scored.groupBy(col(promptCol))
      .agg(max(cand).as("ch"), min(cand).as("rj"),
        count(lit(1)).as("pool_n"))
      .filter(col("ch.s") > col("rj.s"))
      .select(col(promptCol), col("ch.i").as("chosen_id"),
        col("rj.i").as("rejected_id"), col("ch.s").as("chosen_score"),
        col("rj.s").as("rejected_score"),
        (col("ch.s") - col("rj.s")).as("margin"), col("pool_n"))
  }

  /** Exact AUC by rank statistic — the evaluation half the classifier
    * family needs (fit and score exist; "how good is it" did not): the
    * Mann–Whitney formulation with midrank tie correction, computed in
    * EXACT-INTEGER arithmetic until the final division — ranks arrive
    * doubled (2·midrank = 2·prevCount + n + 1, an integer even when
    * the midrank is a .5), so the statistic is engine-exact however
    * scores tie, and ties are REAL here because scores round to 4 dp.
    * The rank-sum products run in DECIMAL(38,0) (the q293 widening:
    * the statistic is ~2·n_pos·N, past 2⁶³ — an ANSI job-killing
    * throw — at ~4·10⁹ labeled rows, model-vs-model judging scale;
    * decimal holds to ~10¹⁹ rows and DuckDB's HUGEINT agrees).
    * Scale shape: one score-keyed aggregate (distinct-score
    * cardinality), then a cumulative window over THAT relation — the
    * corpus enters one exchange, the window never sees it. THE BOUND
    * (r17 verdict): the cumulative window is GLOBAL (single partition),
    * so this is exact-and-cheap only while distinct scores stay far
    * below corpus grain — true of every gated caller (scores quantized
    * to basis points / 4 dp, ≤ 10⁴–10⁶ distinct); a CONTINUOUS scorer
    * makes the window degenerate to corpus rows on one partition —
    * quantize first ([[aucReportBinned]], the q209/q249 binned-sibling
    * posture). NULL scores are excluded and counted (`n_null`) — a
    * scorer that refuses a row must be visible in its evaluation.
    * Degenerate single-class inputs emit NULL auc, never a
    * divide-by-zero.
    */
  def aucReport(scored: DataFrame, scoreCol: String,
                labelCol: String): DataFrame = {
    val nn = scored.filter(col(scoreCol).isNull)
      .agg(count(lit(1)).as("n_null"))
    val g = scored.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("__n"),
        count(when(col(labelCol), 1)).as("__np"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = g
      .withColumn("__prev", coalesce(sum(col("__n")).over(w), lit(0L)))
      .agg(
        sum(col("__np")).as("n_pos"),
        (sum(col("__n")) - sum(col("__np"))).as("n_neg"),
        count(when(col("__n") > 1, 1)).as("n_tied_scores"),
        // rank-sum products in DECIMAL(38,0) (the q293 widening): the
        // doubled-midrank statistic is ~2·n_pos·N, past 2^63 (an ANSI
        // job-killing throw) at ~4·10^9 labeled rows — model-judging
        // scale; DuckDB's HUGEINT agrees through the decimal range
        sum(graft.dec(col("__np")) *
          (graft.dec(col("__prev")) * 2 + graft.dec(col("__n")) + 1))
          .as("__s2"))
    agg.crossJoin(nn).select(col("n_pos"), col("n_neg"),
      col("n_tied_scores"), col("n_null"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round((col("__s2") - graft.dec(col("n_pos")) *
          (col("n_pos") + 1)).cast("double") /
          (graft.dec(col("n_pos")) * 2 * graft.dec(col("n_neg")))
            .cast("double"), 6))
        .as("auc"))
  }

  /** [[aucReport]]'s binned sibling for CONTINUOUS scorers — the
    * q209/q249 posture on evaluation: quantize the score to integer
    * buckets `round(score · scale)` FIRST (the [[graft.cents]]
    * convention — round, NOT floor, so a score that IS a multiple of
    * 1/scale lands in its own bucket even when the double product
    * reads 56.999…), then run the same Mann–Whitney midrank machinery
    * at bucket grain, so the global cumulative window sees at most
    * `scale · score-range` rows however many distinct raw scores the
    * corpus carries. The result is the exact AUC OF THE QUANTIZED
    * SCORES (midranks absorb the new ties), which brackets the
    * raw-score AUC within the mass that moved across bucket
    * boundaries; when scores are already quantized at `scale` (every
    * gated caller), binned ≡ exact bit-for-bit — the OpsSpec law.
    * `scale` in units per score point (10⁴ = basis-point buckets).
    */
  def aucReportBinned(scored: DataFrame, scoreCol: String,
                      labelCol: String, scale: Long = 10000L): DataFrame = {
    require(scale >= 1, s"aucReportBinned: scale must be >= 1, got $scale")
    aucReport(
      scored.withColumn("__sbin",
        when(col(scoreCol).isNotNull,
          round(col(scoreCol).cast("double") * scale).cast("long"))),
      "__sbin", labelCol)
  }

  /** Pearson chi-square on a 2×2 boolean contingency — the A/B
    * experiment readout (variant × converted): `χ² = n·(ad−bc)² /
    * (r₁·r₂·c₁·c₂)`, 1 degree of freedom, NULL when any margin is
    * empty (the statistic is undefined — an arm nobody entered or an
    * outcome nobody hit). Counts are exact int64; the statistic is
    * computed in DOUBLE with a FIXED operation order (cast each count,
    * dd = a·d − b·c, numerator n·dd·dd, denominator r₁·r₂·c₁·c₂,
    * divide, round 6dp) so an independent engine replays it
    * bit-for-bit — the [[graft.expr.JaroWinkler]] pinned-expression-
    * tree convention. Exactness envelope: every product is
    * integer-exact in double through n ≤ 9·10⁷ units (cell products
    * < 2⁵³ — the q186 overflow class, here solved by going through
    * doubles deliberately); beyond that the last rounded digit may
    * drift, never the decision. No Yates correction — plain Pearson,
    * stated; compare χ² to 3.841 for the 5% line, 6.635 for 1%
    * (driver-side constants; no CDF exists in either engine). NULL
    * group/outcome rows drop (an unassigned unit is not evidence).
    * Output: one row `(n, n_tt, n_tf, n_ft, n_ff, chi2)`.
    */
  def chiSquare2x2(df: DataFrame, groupCol: String,
                   outcomeCol: String): DataFrame = {
    val base = df.select(col(groupCol).cast("boolean").as("g"),
        col(outcomeCol).cast("boolean").as("o"))
      .filter(col("g").isNotNull && col("o").isNotNull)
    base.agg(
        count(lit(1)).as("n"),
        count(when(col("g") && col("o"), 1)).as("n_tt"),
        count(when(col("g") && !col("o"), 1)).as("n_tf"),
        count(when(!col("g") && col("o"), 1)).as("n_ft"),
        count(when(!col("g") && !col("o"), 1)).as("n_ff"))
      .withColumn("__a", col("n_tt").cast("double"))
      .withColumn("__b", col("n_tf").cast("double"))
      .withColumn("__c", col("n_ft").cast("double"))
      .withColumn("__d", col("n_ff").cast("double"))
      .withColumn("__dd", col("__a") * col("__d") - col("__b") * col("__c"))
      .withColumn("chi2",
        when((col("n_tt") + col("n_tf")) > 0 &&
            (col("n_ft") + col("n_ff")) > 0 &&
            (col("n_tt") + col("n_ft")) > 0 &&
            (col("n_tf") + col("n_ff")) > 0,
          round(col("n").cast("double") * col("__dd") * col("__dd") /
            ((col("__a") + col("__b")) * (col("__c") + col("__d")) *
              (col("__a") + col("__c")) * (col("__b") + col("__d"))), 6)))
      .select(col("n"), col("n_tt"), col("n_tf"), col("n_ft"),
        col("n_ff"), col("chi2"))
  }

  /** Inter-annotator confusion matrix — the relation a labeling-QA
    * operator actually reads before trusting preference/SFT labels:
    * one row per (label_a, label_b) with its count. Rows where either
    * side is NULL (unlabeled) are dropped; the companion
    * [[cohenKappa]] summarizes this matrix into one chance-corrected
    * number. ONE pair-grain partial-combined aggregate; output is
    * labels²-grain, never corpus-grain.
    */
  def agreementConfusion(df: DataFrame, aCol: String,
                         bCol: String): DataFrame =
    df.select(col(aCol).cast("string").as("label_a"),
        col(bCol).cast("string").as("label_b"))
      .filter(col("label_a").isNotNull && col("label_b").isNotNull)
      .groupBy(col("label_a"), col("label_b"))
      .agg(count(lit(1)).as("n"))

  /** Cohen's kappa (Cohen, *Educational and Psychological Measurement*
    * 1960) — chance-corrected two-rater agreement over categorical
    * labels, the standard QA gate on double-annotated preference/SFT
    * data (raw percent agreement rewards annotators who both spam the
    * majority class; kappa subtracts the marginal-product chance
    * rate). All-integer in basis points, truncating `div` at every
    * step so any engine replays it bit-for-bit:
    *
    *  - `po_bp = n_agree·10⁴ div n` (observed agreement);
    *  - `pe_bp = (Σ_k nA(k)·nB(k))·10⁴ div n²` (chance agreement from
    *    the marginals);
    *  - `kappa_bp = (po_bp − pe_bp)·10⁴ div (10⁴ − pe_bp)`, NULL when
    *    `pe_bp = 10⁴` (both raters constant on the same class — kappa
    *    is undefined there; po is 10⁴ and says it all).
    *
    * kappa_bp is negative when agreement is below chance (truncation
    * on the negative numerator matches both engines — the q226 pin).
    * NULL labels on either side drop (unlabeled rows are not
    * disagreement). Exactness (the q293 widening): the marginal
    * product sum Σ nA·nB and the `pe_bp` ratio run in DECIMAL(38,0) —
    * the old int64 envelope (n²·10⁴ < 2⁶³, n ≈ 3·10⁷ rows) was fine
    * for human-labeled sets but OVERFLOWED (a loud job-killing throw
    * under the session's ANSI default) the moment kappa judged
    * MODEL-vs-MODEL labels at corpus scale (q168's world, n ~
    * 10⁹⁺) while DuckDB widened to HUGEINT. Decimal is exact to
    * n ≈ 10¹⁷; the bp-grain outputs stay BIGINT (quotients ≤ 10⁴).
    * ScaleSpec plants an n past the old envelope and pins the replay.
    *
    * Scale shape: one pair-grain aggregate ([[agreementConfusion]]),
    * then label-grain marginals and 1-row scalar joins — nothing
    * corpus-sized moves after the first shuffle.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    // the marginals, the agreement total and the chance product all
    // read the confusion matrix — materialize the labels²-grain
    // relation once so the CORPUS aggregate runs once, not four times
    // (the r16 triangles lesson)
    val conf = agreementConfusion(df, aCol, bCol).localCheckpoint(true)
    val na = conf.groupBy(col("label_a").as("k"))
      .agg(sum(col("n")).as("na"))
    val nb = conf.groupBy(col("label_b").as("k"))
      .agg(sum(col("n")).as("nb"))
    val pe = na.join(nb, Seq("k"))
      .agg(coalesce(sum(graft.dec(col("na")) * graft.dec(col("nb"))),
        lit(0L).cast("decimal(38,0)")).as("pe_num"))
    val tot = conf.agg(sum(col("n")).as("n"),
      coalesce(sum(when(col("label_a") === col("label_b"), col("n"))),
        lit(0L)).as("n_agree"))
    tot.crossJoin(broadcast(pe))
      .withColumn("po_bp", expr("n_agree * 10000L div n"))
      .withColumn("pe_bp", expr("pe_num * 10000L div " +
        "(cast(n as decimal(20,0)) * cast(n as decimal(20,0)))"))
      .select(col("n"), col("n_agree"), col("po_bp"), col("pe_bp"),
        when(col("pe_bp") < 10000L,
          expr("(po_bp - pe_bp) * 10000L div (10000L - pe_bp)"))
          .as("kappa_bp"))
  }
}
