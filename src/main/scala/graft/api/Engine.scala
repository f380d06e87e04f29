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
  */
final class Engine(val spark: SparkSession, dd: DataDictionary,
                   dataDir: String, format: String = "parquet") {

  dd.relations.keys.foreach { rel =>
    val df = dd.load(spark, dataDir, rel, format)
    val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      spark.sessionState.conf.autoBroadcastJoinThreshold
    graft.SessionMemo(spark, s"engine:$rel", this,
        (held: Option[DataFrame]) => held.foreach(_.unpersist())) {
      if (!small) { df.createOrReplaceTempView(rel); None }
      else {
        val one = df.coalesce(1)
        one.createOrReplaceTempView(rel)
        spark.catalog.uncacheTable(rel)
        spark.catalog.cacheTable(rel)
        Some(one)
      }
    }
  }

  /** Full Spark SQL over the registered dd views. */
  def sql(query: String): DataFrame = spark.sql(query)

  /** Reference-parity door: results are SETS regardless of whether the
    * query says DISTINCT (the reference frontend only emits π-with-dedup).
    */
  def sqlDistinct(query: String): DataFrame = spark.sql(query).distinct()

  /** RA-combinator door. */
  def scan(rel: String): Relation =
    Relation(spark.table(rel).alias(rel))

  /** RA-STRING door: the reference's radb text syntax
    * (`run_radb_query_in_spark` on a string,
    * `ra2spark/ra2spark.py:107-118`), parsed by [[RaParser]] and lowered
    * onto the same [[Relation]] combinators [[scan]] feeds.
    */
  def ra(query: String): DataFrame = RaParser.parse(query, scan).toDF
}
