import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** graft — a Spark-native analytics engine with the query surface of the
  * reference SQL→RA engine (see SURVEY.md) plus the breadth a large-scale
  * training-data pipeline needs (dedup, similarity search, text analysis,
  * streaming). Everything is expressed as Catalyst logical plans via the
  * DataFrame API so predicate pushdown / column pruning / join selection /
  * AQE come for free and survive a 1000-executor scale-up.
  */
package object graft {

  /** Read one of the driver's parquet fixture tables from a scale-factor
    * directory: a vectorized scan with filter and column pushdown, read
    * through [[readParquet]] so a repeated call infers no schema.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    readParquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` with the schema Spark inferred for the
    * same file version, so only the first read of a version runs the
    * schema-inference job. The schema is a [[SessionMemo]] entry per
    * path whose version is the listed files' (name, size, mtime) and the
    * session's parquet settings (they decide the inferred types, e.g.
    * `inferTimestampNTZ`): a rewritten file is inferred again. It holds
    * schemas only, never data. A path that
    * does not list (absent, or a glob) reads plainly and fails or
    * resolves exactly as Spark's reader does.
    */
  private[graft] def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path)
    else {
      val files = Seq.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val settings = spark.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") ||
          k.startsWith("spark.sql.legacy.parquet.")
      }
      val version = (files.result(), settings)
      val schema = SessionMemo(spark, s"schema:$path", version)(
        spark.read.parquet(path).schema)
      spark.read.schema(schema).parquet(path)
    }
  }

  /** The `events` table's `ts` column has surfaced three different ways as
    * the fixture generator evolved: epoch-nanos LongType (TIMESTAMP(NANOS)
    * under spark.sql.legacy.parquet.nanosAsLong), TIMESTAMP_NTZ (parquet
    * timestamp[us] with isAdjustedToUTC=false, what pyarrow writes), and
    * tz-aware TIMESTAMP. Dispatch on the actual type and expose a uniform
    * contract: `ts` as a proper tz-aware timestamp (micros, UTC) plus
    * epoch-nanos `ts_ns` for code that wants integers.
    *
    * The naive wall times in the fixture ARE UTC instants (the generator's
    * convention, and what DuckDB's epoch_us assumes), so the NTZ branch
    * must interpret them in UTC regardless of the session timezone. The
    * cast alone interprets the wall time in SESSION tz (wall − offset(tz));
    * `from_utc_timestamp(cast, sessionTz)` adds offset(tz) back, which
    * reconstructs the original wall clock read as a UTC instant — identity
    * under a UTC session (as GraftSession pins), the correct instant under
    * any other (a plain SparkSession on a non-UTC machine would otherwise
    * shift every event by the zone offset, silently). The r12 version used
    * `to_utc_timestamp(cast, "UTC")`, which is a no-op — to_utc_timestamp
    * shifts by the GIVEN zone's offset, zero for UTC — so non-UTC sessions
    * still shifted; ScaleSpec now pins the non-UTC path.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` = integer division: epoch-nanos exceed 2^53, so the `/`
        // (double) operator would lose microsecond precision near boundaries.
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(
            org.apache.spark.sql.functions.expr("ts_ns div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", ntzAsUtcInstant(spark, col("ts")))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }

  /** Reinterpret a TIMESTAMP_NTZ wall clock as a UTC instant, correct under
    * ANY session timezone: cast gives wall − offset(sessionTz), and
    * from_utc_timestamp(·, sessionTz) adds the offset back (offsets are
    * resolved ms apart, so even a DST boundary between the two lookups
    * cannot diverge outside the transition instant itself). Shared by
    * [[events]] and the streaming twins (EventStreams.tzAware).
    */
  private[graft] def ntzAsUtcInstant(spark: SparkSession, ntz: Column): Column =
    from_utc_timestamp(
      ntz.cast(org.apache.spark.sql.types.TimestampType),
      spark.conf.get("spark.sql.session.timeZone"))

  /** Release everything graft memoizes against `spark`: every
    * [[SessionMemo]] entry (stored indexes, the persisted pair set,
    * fitted models, the SQL-door views, each Engine's in-memory
    * relations and the [[readParquet]] schemas).
    * Call at teardown (Bench/Verify do) or between corpora on a
    * long-lived session; queries re-derive lazily on next use. Stored
    * artifacts' directories are deleted at JVM exit.
    */
  def clearCaches(spark: SparkSession): Unit = SessionMemo.clear(spark)

  /** Recursive file-tree delete (no symlink following beyond what
    * File.delete does) — shared by the stored-artifact lifecycles
    * (temp IVF indexes, orphaned bucketed-table locations).
    */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Money-style doubles summed as exact integer cents: per-row IEEE double
    * arithmetic is bit-identical across engines, but the ORDER of a
    * distributed double sum is not — so round each row to cents first and
    * sum exact longs. Keeps aggregate results hash-comparable with the
    * DuckDB oracle at any parallelism.
    */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact-integer widening for bilinear sufficient-statistic algebra
    * (the q293/q186 overflow class): an int64 column lifted to
    * DECIMAL(20,0), so products land in DECIMAL(38,0) — exact to 10³⁸
    * where long×long past 2⁶³ THROWS under the session's ANSI default
    * (GraftSession pins the posture), killing a 100 TB job at exactly
    * the scale the statistic exists for. DuckDB widens the same
    * algebra to HUGEINT, so the two engines keep agreeing far past the
    * old envelope; past 10³⁸ Spark's decimal overflow still fails LOUD
    * under ANSI, never silently-wrong. Scale-0 casts lose nothing; a
    * final decimal→double cast rounds to nearest exactly like an
    * exact-integer→double cast, so double reports stay bit-identical
    * across engines too. Shared by the r20 audit set —
    * q180/q186/q198/q200/q202/q203/q211/q242, [[ops.Classify.cohenKappa]],
    * [[ops.Classify.aucReport]], [[ops.Validate.tClosenessAudit]],
    * [[ops.Sampling.quantileNormalize]]+Binned — and
    * [[ops.Graph.degreeAssortativity]]; ScaleSpec's planted-overflow
    * laws exercise it past 2⁶³ against exact replays.
    */
  private[graft] def dec(c: Column): Column = c.cast("decimal(20,0)")
}
