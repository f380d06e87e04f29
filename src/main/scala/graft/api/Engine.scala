package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.DataDictionary

/** Facade mirroring the reference's two entry points (SURVEY §3):
  *  - `sql(...)`  ≈ `run_sql_query_in_spark` (`ra2spark/ra2spark.py:121`) —
  *    but parse/analyze/optimize/plan is all Catalyst;
  *  - `scan(rel)` ≈ `run_radb_query_in_spark`'s raw-RA door
  *    (`ra2spark/ra2spark.py:107-118`) — RA combinators over DataFrame.
  *
  * The reference's SQL surface is `SELECT DISTINCT` only
  * (`sql2ra/functionality.py:37-132`); `sqlDistinct` reproduces that
  * implicit-set-semantics layer for parity tests, while `sql` is full
  * Spark SQL.
  *
  * An Engine is a snapshot of its data dictionary. Each relation whose
  * optimizer size estimate is at most the session's
  * `spark.sql.autoBroadcastJoinThreshold` (the size Spark already ships
  * whole) is held in Spark's columnar cache as one partition: its view
  * is `coalesce(1)` over the file, cached lazily by `cacheTable`. Its
  * scans then report `SinglePartition`, so a distinct, or a shuffled
  * join between two such relations, plans no exchange, and a σ/π/ρ
  * query runs as one job of one task over in-memory batches. Larger
  * relations stay plain file scans and read the current files.
  *
  * The cache is filled by the first query that reads a relation, and
  * from then on serves the rows of that read. A new Engine never serves
  * cached rows of a replaced file: the cache matches by plan, and a
  * file rewritten at the same path gives the same plan, so it drops any
  * entry for its views' plans before caching them. The session keeps
  * one in-memory copy per view name: a later Engine registering the
  * name, or [[graft.clearCaches]], frees it.
  *
  * Each door answers over this Engine's own relations: before it runs,
  * it takes back any view name another Engine, the contract's SQL door
  * or a caller has since replaced ([[graft.OwnedViews]]), and caches the
  * relation again if that replacement dropped its in-memory copy. While
  * the views are its own, a call writes nothing to the catalog.
  */
final class Engine(val spark: SparkSession, dd: DataDictionary,
                   dataDir: String, format: String = "parquet") {

  /** Each relation's view frame, and whether it is held in memory. */
  private val layout: Map[String, (DataFrame, Boolean)] =
    dd.relations.keys.map { rel =>
      val df = dd.load(spark, dataDir, rel, format)
      val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        spark.sessionState.conf.autoBroadcastJoinThreshold
      rel -> (if (small) (df.coalesce(1), true) else (df, false))
    }.toMap

  /** After `rel`'s name is bound to this Engine's frame: the first Engine
    * to take the name after another one frees that one's copy and drops
    * any cached entry for its own plan (a file rewritten at the same path
    * gives the same plan); any binding caches a small relation that is
    * not cached, since replacing a view uncaches the replaced one. */
  private def hold(rel: String): Unit = {
    val (frame, inMemory) = layout(rel)
    graft.SessionMemo(spark, s"engine:$rel", this,
        (held: Option[DataFrame]) => held.foreach(_.unpersist())) {
      if (inMemory) spark.catalog.uncacheTable(rel)
      Option.when(inMemory)(frame)
    }
    if (inMemory && !spark.catalog.isCached(rel)) spark.catalog.cacheTable(rel)
  }

  private val views = new graft.OwnedViews(spark, layout.view.mapValues(_._1).toMap, hold)

  /** Full Spark SQL over the registered dd views. */
  def sql(query: String): DataFrame = { views.own(); spark.sql(query) }

  /** Reference-parity door: results are SETS regardless of whether the
    * query says DISTINCT (the reference frontend only emits π-with-dedup).
    */
  def sqlDistinct(query: String): DataFrame = sql(query).distinct()

  /** RA-combinator door. A name outside the dd reads the session's table. */
  def scan(rel: String): Relation = { views.own(); frame(rel) }

  private def frame(rel: String): Relation =
    Relation(views.frames.getOrElse(rel, spark.table(rel)).alias(rel))

  /** RA-STRING door: the reference's radb text syntax
    * (`run_radb_query_in_spark` on a string,
    * `ra2spark/ra2spark.py:107-118`), parsed by [[RaParser]] and lowered
    * onto the same [[Relation]] combinators [[scan]] feeds.
    */
  def ra(query: String): DataFrame = {
    views.own()
    RaParser.parse(query, frame).toDF
  }
}
