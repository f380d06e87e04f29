package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Entity resolution as a STORED-ARTIFACT lifecycle — the
  * admitBatch/extendIndex discipline on RECORDS (r18 verdict #4: q285
  * builds the canonical registry batch-wise; production master data is
  * incremental — new records arrive against the registry you already
  * hold, link-or-admit, and the registry extends).
  *
  * The linkage machinery is the q176/q285 shape op-ified: two
  * positional blocking keys (first-`prefixLen` / last-`prefixLen`
  * characters — a single-character edit can break one end but never
  * both), capped blocks ([[Dedup.capBlockRows]] — a degenerate key
  * emits no pairs instead of exploding, [[crossLinkageAudit]] the loud
  * twin), and the native codegen'd `jaro_winkler` expression scored at
  * the registry's pinned threshold.
  *
  * Reference point: the name-matching pipeline of record-linkage
  * literature (Fellegi–Sunter blocking + string comparators; Winkler's
  * jaro_winkler is the standard comparator), re-expressed as Spark
  * joins over a persistable relation.
  */
object Entity {

  /** A stored canonical-entity registry: `records` is
    * (rec_id, name, canonical_id) — every record ever admitted, each
    * pointing at its entity's canonical survivor (min rec_id per
    * component at fit time; self for singletons). `threshold` and
    * `prefixLen` are PINNED at fit: a probe blocked or scored
    * differently than the registry was resolved with would silently
    * link wrong, so the query sides take them from here (the
    * CorpusIndex parameter-rides-with-the-artifact rule), and the
    * [[graft.Store]] manifest carries them with the scheme for
    * [[Entity.loadRegistry]] to re-check.
    *
    * INCREMENTAL-vs-REBUILD contract (the honest divergence, pinned in
    * OpsSpec): [[Entity.admitBatch]] NEVER merges two entities the
    * registry already holds — a bridging record (close to both) links
    * to its single best match, where a full [[Entity.buildRegistry]]
    * over all records would union the two components. That is the
    * standard incremental-ER trade (merges need a compaction pass);
    * rebuild on the usual refit cadence, exactly like IVF centroids
    * and LSH tombstones.
    */
  final case class EntityRegistry(records: DataFrame, threshold: Double,
                                  prefixLen: Int,
                                  scheme: Int = EntityRegistry.Scheme) {

    /** RETRACT records from the registry — the delete path the other
      * stored families got in r19 (r19 verdict #4), with the one
      * wrinkle unique to master data: removing a CANONICAL record
      * must RE-ELECT the canonical among its surviving members. Rule
      * (deterministic, replayable): a surviving canonical stays
      * canonical — downstream systems hold its id, so it never moves
      * while alive; a removed canonical's component re-elects the MIN
      * surviving rec_id (the fit-time election rule applied to the
      * survivors); a fully-retracted component vanishes. Lazy like
      * every other remove (one anti-join + one canonical-grain
      * aggregate ride the stored-relation scan; [[save]] to a new path
      * is the compaction).
      *
      * The honest divergence, pinned (the admitBatch no-merge twin):
      * remove NEVER RE-SPLITS a component. Membership comes from the
      * STORED canonical assignment, so retracting a bridge record
      * that alone held two name-clusters together at fit time leaves
      * the survivors in one component, where [[Entity.buildRegistry]]
      * over the survivors would split them. Same trade, same remedy:
      * rebuild on the refit cadence. Phantom ids are state no-ops,
      * listed by [[removeAudit]]. */
    def remove(ids: DataFrame, idCol: String): EntityRegistry = {
      val rm = ids.select(col(idCol).cast("long").as("rec_id")).distinct()
      val surv = records.join(rm, Seq("rec_id"), "left_anti")
      // Per-component minima via a window over the survivors, not
      // groupBy + join-back: the join re-shuffles the full relation by
      // canonical_id anyway, so the aggregate-then-join shape paid two
      // exchanges of the same bytes where one window exchange delivers
      // the same value to every member row (the star-contraction r20
      // lesson). Windows are sort-based and spillable — no per-component
      // buffer.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("canonical_id"))
      copy(records = surv
        .withColumn("__new_canonical", coalesce(
          min(when(col("rec_id") === col("canonical_id"), col("rec_id")))
            .over(w),
          min(col("rec_id")).over(w)))
        .select(col("rec_id"), col("name"),
          col("__new_canonical").as("canonical_id")))
    }

    /** [[remove]]'s phantom screen: retraction ids absent from the
      * stored records — CDC re-deliveries, double-removes, typo'd ids
      * — listed from the same relation the remove anti-joins. */
    def removeAudit(ids: DataFrame, idCol: String): DataFrame =
      ids.select(col(idCol).cast("long").as("rec_id")).distinct()
        .join(records.select(col("rec_id")), Seq("rec_id"), "left_anti")

    def save(path: String): Unit =
      graft.Store.save(path, "EntityRegistry", scheme,
        Seq("threshold" -> threshold, "prefix_len" -> prefixLen),
        "records" -> records)
  }

  object EntityRegistry {
    /** Version of the blocking-key + comparator pipeline. Bump whenever
      * stored canonical assignments would stop matching what this build
      * computes for the same records. */
    val Scheme = 1
  }

  /** Read an [[EntityRegistry]] written by [[EntityRegistry.save]]
    * through [[graft.Store.load]]. Parameters come from the manifest,
    * never the caller; a scheme mismatch fails loudly here rather than
    * silently mis-linking at probe time. */
  def loadRegistry(spark: SparkSession, path: String): EntityRegistry = {
    val l = graft.Store.load(spark, path, "EntityRegistry",
      EntityRegistry.Scheme)
    EntityRegistry(l("records"), l.double("threshold"), l.int("prefix_len"))
  }

  /** Resolve a record corpus into a fresh registry — the q285 pipeline
    * op-ified: blocked jaro_winkler pairs at `threshold` →
    * [[Dedup.dupClusters]] star-contraction → canonical = min rec_id
    * per component, singletons self-canonical. This IS the compaction
    * pass of the incremental lifecycle: it merges what
    * [[admitBatch]]'s single-link admissions cannot. Records with
    * NULL/empty names are unresolvable and excluded — run
    * [[nameDropAudit]] over the same corpus to list them (the phantom
    * screen; admitBatch refuses them loudly instead because its batch
    * is guard-sized). */
  def buildRegistry(records: DataFrame, idCol: String, nameCol: String,
                    threshold: Double = 0.9, prefixLen: Int = 3,
                    maxBlock: Int = 1000): EntityRegistry = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"buildRegistry: threshold must be in (0, 1], got $threshold")
    require(prefixLen >= 1,
      s"buildRegistry: prefixLen must be >= 1, got $prefixLen")
    val recs = norm(records, idCol, nameCol)
    val keyed = blockKeys(recs, prefixLen)
    // the pair self-join reads the capped block relation twice —
    // materialize it once (2 rows per record, record-bounded; the
    // fuzzyPairs/q285 lesson applied to the registry build)
    val capped = Dedup.capBlockRows(keyed, Seq("bk"), maxBlock)
      .localCheckpoint(true)
    val pairs = capped.select(col("bk"), col("rec_id").as("a_id"),
        col("name").as("na"))
      .join(capped.select(col("bk"), col("rec_id").as("b_id"),
        col("name").as("nb")), Seq("bk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("na"), col("nb")).distinct()
      .filter(expr("jaro_winkler(na, nb)") >= threshold)
      .select(col("a_id"), col("b_id"))
    val clusters = Dedup.dupClusters(pairs, starContraction = true)
    EntityRegistry(
      recs.join(clusters.select(col("id").as("rec_id"), col("cluster")),
          Seq("rec_id"), "left")
        .select(col("rec_id"), col("name"),
          coalesce(col("cluster"), col("rec_id")).as("canonical_id")),
      threshold, prefixLen)
  }

  /** Blocked jaro_winkler linkage of an ARRIVING batch against the
    * STORED registry — the cross door ([[Dedup.crossNearDup]]'s shape
    * on records): batch and registry records key themselves on the
    * registry's pinned first/last-`prefixLen` blocks, candidates join
    * on the key (each side capped at `maxBlock`;
    * [[crossLinkageAudit]] lists what a biting cap drops), and the
    * native jaro_winkler scores candidates at the registry's pinned
    * threshold. Nothing pairs the registry with itself, nothing pairs
    * the batch with itself. Per-batch cost: batch keying + one
    * key-equi join against the stored relation's projection — the
    * registry is never re-resolved.
    *
    * Output: (new_id, rec_id, canonical_id, jw) — every registry
    * record the arriving record plausibly IS, with the entity it
    * would join. */
  def crossLinkage(batch: DataFrame, registry: EntityRegistry,
                   idCol: String, nameCol: String,
                   maxBlock: Int = 1000): DataFrame = {
    require(registry.scheme == EntityRegistry.Scheme,
      s"EntityRegistry scheme ${registry.scheme} != this build's " +
        s"${EntityRegistry.Scheme} — rebuild the registry")
    val b = Dedup.capBlockRows(
      blockKeys(norm(batch, idCol, nameCol), registry.prefixLen),
      Seq("bk"), maxBlock)
    val r = Dedup.capBlockRows(
      blockKeys(registry.records.select(col("rec_id"), col("name")),
        registry.prefixLen),
      Seq("bk"), maxBlock)
    b.select(col("bk"), col("rec_id").as("new_id"), col("name").as("nv"))
      .join(r.select(col("bk"), col("rec_id"), col("name").as("nb")),
        Seq("bk"))
      .select(col("new_id"), col("rec_id"), col("nv"), col("nb"))
      .distinct()
      .withColumn("jw", expr("jaro_winkler(nv, nb)"))
      .filter(col("jw") >= registry.threshold)
      .join(registry.records.select(col("rec_id"), col("canonical_id")),
        Seq("rec_id"))
      .select(col("new_id"), col("rec_id"), col("canonical_id"),
        round(col("jw"), 4).as("jw"))
  }

  /** [[crossLinkage]]'s loud twin: the blocks a biting `maxBlock`
    * would drop, side-attributed — `(side, bk, n_rows)` with side ∈
    * {'batch', 'registry'} — from the same key generators so door and
    * audit cannot disagree. */
  def crossLinkageAudit(batch: DataFrame, registry: EntityRegistry,
                        idCol: String, nameCol: String,
                        maxBlock: Int = 1000): DataFrame =
    Dedup.oversizedBlocks(
        blockKeys(norm(batch, idCol, nameCol), registry.prefixLen),
        Seq("bk"), maxBlock)
      .select(lit("batch").as("side"), col("bk"), col("n_rows"))
      .unionAll(Dedup.oversizedBlocks(
          blockKeys(registry.records.select(col("rec_id"), col("name")),
            registry.prefixLen),
          Seq("bk"), maxBlock)
        .select(lit("registry").as("side"), col("bk"), col("n_rows")))

  /** Admit-or-merge: every arriving record either JOINS its
    * best-matching entity (max jw; ties broken by min canonical_id —
    * deterministic, replayable) or becomes its own new canonical, and
    * the registry extends with the batch — the extendIndex discipline
    * on records. Within-batch duplicates deliberately do NOT merge
    * with each other here (each links against the STORED registry
    * only); the compaction pass ([[buildRegistry]] over all records)
    * merges them, exactly like LSH tombstone reclaim. Batch ids
    * already present in the registry are rejected eagerly
    * (`verifyIds`, the extendIvf posture) — a re-admitted id would
    * hold two canonical rows and every later door probe would emit
    * duplicate links. */
  def admitBatch(batch: DataFrame, registry: EntityRegistry,
                 idCol: String, nameCol: String, maxBlock: Int = 1000,
                 verifyIds: Boolean = true): EntityRegistry = {
    // NULL/empty names refuse LOUDLY here (r19 advice): norm's filter
    // would otherwise drop them — neither admitted, linked, nor listed
    // by any audit, a silently lost master-data record. The guard is
    // batch-sized and eager, the verifyIds posture; corpus-scale
    // buildRegistry keeps the lazy [[nameDropAudit]] twin instead.
    val unnamed = batch
      .filter(col(nameCol).isNull || length(col(nameCol)) === 0)
      .select(col(idCol)).limit(5).collect()
    require(unnamed.isEmpty,
      s"admitBatch: batch records with NULL/empty $nameCol (e.g. id " +
        s"${unnamed.map(_.get(0)).mkString(", ")}) — unresolvable " +
        "records would vanish from the registry; screen them upstream " +
        "(nameDropAudit lists them) or repair the names")
    val b = norm(batch, idCol, nameCol)
    if (verifyIds) {
      val overlap = b.select(col("rec_id"))
        .join(registry.records.select(col("rec_id")),
          Seq("rec_id"), "left_semi")
        .limit(5).collect()
      require(overlap.isEmpty,
        s"admitBatch: batch ids already present in the registry (e.g. " +
          s"${overlap.map(_.get(0)).mkString(", ")}) — a re-admitted " +
          "id would carry two canonical rows; dedup the batch or " +
          "rebuild")
    }
    val links = crossLinkage(b, registry, "rec_id", "name", maxBlock)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_id"))
      .orderBy(col("jw").desc, col("canonical_id").asc)
    val best = links
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("new_id").as("rec_id"), col("canonical_id"))
    registry.copy(records = registry.records.unionByName(
      b.join(best, Seq("rec_id"), "left")
        .select(col("rec_id"), col("name"),
          coalesce(col("canonical_id"), col("rec_id"))
            .as("canonical_id"))))
  }

  /** The phantom screen for [[buildRegistry]]'s name filter: records a
    * resolve pass cannot block or score — NULL/empty `nameCol` —
    * listed (rec_id, name) from the SAME predicate norm drops by, so
    * screen and build cannot disagree. buildRegistry stays lazy over
    * the corpus (an eager guard there would add a full scan at 100 TB);
    * this twin makes the drop auditable, and [[admitBatch]] — where the
    * batch is small — refuses loudly instead. */
  def nameDropAudit(records: DataFrame, idCol: String,
                    nameCol: String): DataFrame =
    records
      .filter(col(nameCol).isNull || length(col(nameCol)) === 0)
      .select(col(idCol).cast("long").as("rec_id"),
        col(nameCol).as("name"))

  private def norm(df: DataFrame, idCol: String,
                   nameCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("rec_id"),
        col(nameCol).as("name"))
      .filter(col("name").isNotNull && length(col("name")) > 0)

  /** The two positional blocking keys — (rec_id, name, bk), two rows
    * per record. A single-character edit can break one end's key but
    * never both, the q176 design. `private[graft]` so the streaming
    * twin ([[graft.streaming.DocumentStreams.entityFlagStream]]) keys
    * the STORED side with the exact same generator — one copy of the
    * blocking rule, no drift surface. */
  private[graft] def blockKeys(recs: DataFrame, prefixLen: Int): DataFrame = {
    def keyed(k: Column) = recs.select(col("rec_id"), col("name"),
      k.as("bk"))
    keyed(substring(col("name"), 1, prefixLen))
      .unionByName(keyed(substring(col("name"), -prefixLen, prefixLen)))
  }
}
