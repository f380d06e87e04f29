package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

/** Scale-mechanics contracts: salted joins preserve results while
  * spreading hot keys, and bucketed tables co-locate joins with no
  * exchange — the two explicit tools (beyond AQE) for the 100 TB story.
  */
class ScaleSpec extends SparkSpec {

  import spark.implicits._

  test("saltedJoin equals the plain join on a skewed key distribution") {
    // 90% of fact rows share key 0 — the classic hot key
    val fact = (1 to 1000).map(i => (if (i <= 900) 0L else i.toLong % 7, i))
      .toDF("k", "v")
    val dim = (0L to 6L).map(k => (k, s"d$k")).toDF("k", "name")
    val plain = fact.join(dim, Seq("k")).select("k", "v", "name")
      .as[(Long, Int, String)].collect().toSet
    val salted = Skew.saltedJoin(fact, dim, "k", salt = 8)
      .select("k", "v", "name").as[(Long, Int, String)].collect().toSet
    assert(salted === plain)
  }

  test("saltedJoin's physical join key includes the salt column") {
    val fact = Seq((0L, 1)).toDF("k", "v")
    val dim = Seq((0L, "d")).toDF("k", "name")
    val plan = Skew.saltedJoin(fact, dim, "k", salt = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), plan)
  }

  test("saltedAgg two-phase equals the direct aggregation") {
    val fact = (1 to 500).map(i => (if (i <= 450) 0L else i.toLong % 5, i.toLong))
      .toDF("k", "v")
    val direct = fact.groupBy("k")
      .agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    val salted = graft.ops.Skew.saltedAgg(fact, "k", salt = 8,
      partial = Seq("v" -> (sum(_)), "n" -> (_ => count(lit(1)))),
      merge = Seq("v" -> (sum(_)), "n" -> (sum(_))))
      .select(col("k"), col("v").as("s"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(salted === direct)
  }

  test("keySkewProfile surfaces the hot key first") {
    val fact = (1 to 100).map(i => if (i <= 60) 7L else i.toLong).toDF("k")
    val top = Skew.keySkewProfile(fact, "k", 1).as[(Long, Long)].head()
    assert(top === ((7L, 60L)))
  }

  test("bucketed tables join without an exchange (shuffle-free co-located join)") {
    spark.sql("DROP TABLE IF EXISTS g_orders_b")
    spark.sql("DROP TABLE IF EXISTS g_cust_b")
    // a previously failed run can leave the managed location behind
    for (t <- Seq("g_orders_b", "g_cust_b")) {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        loc.listFiles().foreach(_.delete()); loc.delete()
      }
    }
    val dir = sfDir
    table(spark, dir, "orders")
      .write.mode("overwrite").bucketBy(4, "o_custkey")
      .sortBy("o_custkey").saveAsTable("g_orders_b")
    table(spark, dir, "customer")
      .selectExpr("c_custkey", "c_name")
      .write.mode("overwrite").bucketBy(4, "c_custkey")
      .sortBy("c_custkey").saveAsTable("g_cust_b")
    // merge hints on the INPUTS so broadcast doesn't win and the bucketed
    // sort-merge path is what's planned
    val joined = spark.table("g_orders_b").hint("merge")
      .join(spark.table("g_cust_b").hint("merge"),
        col("o_custkey") === col("c_custkey"))
    val physical = joined.queryExecution.executedPlan.toString
    assert(physical.contains("SortMergeJoin"), physical)
    assert(!physical.contains("Exchange"),
      s"bucketed join must not shuffle:\n$physical")
    assert(joined.count() > 0)
    spark.sql("DROP TABLE IF EXISTS g_orders_b")
    spark.sql("DROP TABLE IF EXISTS g_cust_b")
  }

  test("bucketed edge table drops the per-level edge-side exchange inside a recursive CTE") {
    // r15 verdict #6: q124's scaladoc prescribes "pre-bucket edges on
    // `child`" for a 100 TB link graph, where the per-level SMJ would
    // otherwise re-shuffle the edge side on EVERY recursion level.
    // UnionLoopExec executes each level as a fresh Dataset (the q124
    // re-planning behavior), so the per-level physical plans are
    // observable through a QueryExecutionListener — this pin runs the
    // same edge-join recursion against a plain and a child-bucketed
    // edge table under forced SMJ and asserts the bucketed layout's
    // level joins carry NO exchange keyed on the edge side (`child`),
    // while the plain layout pays one per level.
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.apache.spark.sql.execution.QueryExecution
    spark.sql("DROP TABLE IF EXISTS g_edges_b")
    spark.sql("DROP TABLE IF EXISTS g_edges_p")
    val edges = table(spark, sfDir, "documents")
      .filter(col("doc_id") >= 7)
      .select(col("doc_id").cast("long").as("child"),
        expr("cast(doc_id as bigint) div 7").as("parent"))
    edges.write.mode("overwrite").bucketBy(4, "child").sortBy("child")
      .saveAsTable("g_edges_b")
    edges.write.mode("overwrite").saveAsTable("g_edges_p")
    def recursion(edgeTable: String) =
      s"""WITH RECURSIVE anc AS (
           SELECT CAST(doc_id AS BIGINT) AS start_id,
                  CAST(doc_id AS BIGINT) AS cur,
                  CAST(0 AS BIGINT) AS depth
           FROM parquet.`$sfDir/documents.parquet`
           UNION ALL
           SELECT /*+ MERGE(e) */ a.start_id, e.parent AS cur,
                  a.depth + CAST(1 AS BIGINT) AS depth
           FROM anc a JOIN $edgeTable e ON a.cur = e.child
         )
         SELECT depth, count(*) AS n FROM anc GROUP BY depth"""
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    def levelJoinPlans(edgeTable: String): (Seq[String], Seq[(Long, Long)]) =
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
        plans.clear()
        val rows = spark.sql(recursion(edgeTable))
          .as[(Long, Long)].collect().toSeq.sorted
        // listener delivery is async (listenerBus is private[spark]) —
        // poll until the captured-plan count settles
        var settled = false
        var tries = 0
        while (!settled && tries < 20) {
          val n = plans.size
          Thread.sleep(300)
          settled = plans.size == n && n > 0
          tries += 1
        }
        import scala.jdk.CollectionConverters._
        (plans.asScala.toSeq.filter(p =>
          p.contains("SortMergeJoin") && p.contains(edgeTable)), rows)
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", prevBcast)
    val (bLevels, bRows) = levelJoinPlans("g_edges_b")
    val (pLevels, pRows) = levelJoinPlans("g_edges_p")
    spark.listenerManager.unregister(listener)
    assert(bRows === pRows, "bucketed and plain closures must agree")
    assert(bRows.nonEmpty && bRows.map(_._2).sum > table(
      spark, sfDir, "documents").count(), "recursion must have walked")
    assert(bLevels.nonEmpty, "no per-level SMJ observed on bucketed run")
    assert(pLevels.nonEmpty, "no per-level SMJ observed on plain run")
    // the pin itself: an exchange keyed on the edge-side join key
    // exists at every observed plain level and at NO bucketed level
    // (the frontier side's exchange, keyed on `cur`, remains in both)
    assert(pLevels.forall(_.contains("Exchange hashpartitioning(child")),
      s"plain edge table lost its edge-side exchange?\n${pLevels.head}")
    assert(bLevels.forall(!_.contains("Exchange hashpartitioning(child")),
      s"bucketed edge table still shuffles the edge side:\n${bLevels.head}")
    assert(bLevels.forall(_.contains("SelectedBucketsCount")),
      "bucketed run must scan buckets")
    spark.sql("DROP TABLE IF EXISTS g_edges_b")
    spark.sql("DROP TABLE IF EXISTS g_edges_p")
  }

  test("bucketed stored CorpusIndex: probe joins shuffle ONLY the batch side") {
    import graft.ops.Dedup
    val names = Seq("gt_idx_bands", "gt_idx_shingles", "gt_idx_meta")
    names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    for (t <- names) {
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        Option(loc.listFiles).getOrElse(Array.empty).foreach(_.delete())
        loc.delete()
      }
    }
    val base = (1 to 40).map(i =>
      (i.toLong, (1 to 50).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    Dedup.buildIndex(base, "doc_id", "text").saveBucketed("gt_idx", buckets = 4)
    val idx = Dedup.loadIndexBucketed(spark, "gt_idx")
    // the batch probe path (same join shape as the streaming flag path):
    // count exchanges that repartition the STORED tables — there must be
    // none; the probe batch's own exchanges are the per-batch cost
    val probe = Seq((1000L, (1 to 50).map(j => s"w3_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val flagged = Dedup.crossNearDupIndexed(probe, idx, "doc_id", "text")
    val plan = flagged.queryExecution.executedPlan.toString
    // stored-side scans must carry their bucket layout
    assert(plan.contains("SelectedBucketsCount"),
      s"stored side must scan buckets:\n$plan")
    // and the result is correct: doc 1000 matches base doc 3 only
    val got = flagged.select("new_id", "base_id")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1000L, 3L)), s"got $got")
    // the headline property — the stored side is never re-shuffled:
    // under forced SMJ (no broadcast), the bucketed index's plan must
    // carry exactly TWO fewer shuffle exchanges than the same index in
    // its plain stored form (the bands (band, band_hash) exchange and
    // the shingles base_id exchange both disappear into bucketed scans)
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def nExchanges(idx2: Dedup.CorpusIndex): Int =
        "Exchange hashpartitioning".r.findAllIn(
          Dedup.crossNearDupIndexed(probe, idx2, "doc_id", "text")
            .queryExecution.executedPlan.toString).size
      val plainDir = tempDir("gt-idx-plain")
      Dedup.buildIndex(base, "doc_id", "text").save(plainDir)
      val nPlain = nExchanges(Dedup.loadIndex(spark, plainDir))
      val nBucketed = nExchanges(idx)
      assert(nBucketed === nPlain - 2,
        s"bucketed probe must drop BOTH stored-side exchanges: " +
          s"plain $nPlain vs bucketed $nBucketed")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    names.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("events() under TIMESTAMP_NTZ inference equals the tz-aware read (r11 regression)") {
    // Round 11 lost all 9 events queries when the fixture generator
    // switched ts from TIMESTAMP(NANOS) to naive timestamp[us], which
    // Spark surfaces as TIMESTAMP_NTZ unless inferTimestampNTZ=false
    // (GraftSession's default since). events() type-dispatches, so a
    // session WITHOUT the config must read the same instants — this
    // pins the NTZ branch, which GraftSession sessions otherwise never
    // exercise.
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      // meaningful only while the fixture stores NAIVE timestamps; a
      // nanos fixture (LongType either way) cancels rather than
      // vacuously passing
      assume(raw.schema("ts").dataType == TimestampNTZType,
        s"fixture ts is ${raw.schema("ts").dataType} — NTZ branch not reachable")
      val viaNtz = graft.events(spark, sfDir)
        .select("event_id", "ts_ns").as[(Long, Long)].collect().toMap
      spark.conf.set(key, "false")
      val viaTz = graft.events(spark, sfDir)
        .select("event_id", "ts_ns").as[(Long, Long)].collect().toMap
      assert(viaNtz.size > 0 && viaNtz === viaTz,
        "NTZ and tz-aware reads must agree on every instant (UTC session)")

      // r12 ADVICE regression: the r12 NTZ branch used
      // to_utc_timestamp(cast, "UTC") — a no-op (to_utc_timestamp shifts
      // by the GIVEN zone's offset, zero for UTC), so the cast's
      // session-tz interpretation leaked through and a non-UTC session
      // shifted every instant by its zone offset. Pin the fix
      // (from_utc_timestamp(cast, sessionTz)) under a zone with a
      // nonzero offset: the instants must STILL match the UTC read.
      val tzKey = "spark.sql.session.timeZone"
      val prevTz = spark.conf.get(tzKey)
      try {
        spark.conf.set(tzKey, "Asia/Kolkata") // +05:30, no DST
        spark.conf.set(key, "true")
        val viaNtzKolkata = graft.events(spark, sfDir)
          .select("event_id", "ts_ns").as[(Long, Long)].collect().toMap
        assert(viaNtzKolkata === viaTz,
          "NTZ read under a non-UTC session must still yield UTC instants")
      } finally spark.conf.set(tzKey, prevTz)
    } finally spark.conf.set(key, prev)
  }

  test("table: one schema inference per file version; clearCaches forgets it") {
    val dir = tempDir("graft-schemas")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1)
      .write.parquet(s"$dir/t.parquet")
    graft.clearCaches(spark)
    val (first, firstJobs) = jobsStartedBy(table(spark, dir, "t"))
    assert(firstJobs >= 1, "the first read of a file version infers its schema")
    val (again, againJobs) = jobsStartedBy(table(spark, dir, "t"))
    assert(againJobs === 0, "an unchanged file must not be inferred again")
    assert(again.schema === first.schema)
    assert(again.as[(Long, String)].collect().toSet === Set((1L, "a"), (2L, "b")))
    // a rewrite (new size and mtime, here also a new column) re-infers
    Seq((3L, "ccc", 0.5)).toDF("id", "s", "x").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val (rewritten, rewriteJobs) = jobsStartedBy(table(spark, dir, "t"))
    assert(rewriteJobs >= 1, "a rewritten file must be inferred again")
    assert(rewritten.as[(Long, String, Double)].collect() === Array((3L, "ccc", 0.5)))
    assert(jobsStartedBy(table(spark, dir, "t"))._2 === 0)
    graft.clearCaches(spark)
    assert(jobsStartedBy(table(spark, dir, "t"))._2 >= 1,
      "clearCaches must empty the schema cache")
  }

  test("partitioned layout prunes partitions at plan time") {
    val tmp = tempDir("graft-part")
    table(spark, sfDir, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(tmp)
    val one = spark.read.parquet(tmp).filter(col("event_type") === "click")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    val total = spark.read.parquet(tmp).count()
    val clicks = one.count()
    assert(clicks > 0 && clicks < total)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(tmp))
  }

  test("tagged-JSON ingestion (the reference's MR wire format) parses and casts") {
    val tmp = new java.io.File(tempDir("graft-tagged"))
    val f = new java.io.File(tmp, "Serves.json")
    val w = new java.io.PrintWriter(f)
    w.println("Serves\t{\"Serves.pizzeria\": \"Dominos\", \"Serves.pizza\": \"mushroom\", \"Serves.price\": 8.5}")
    w.println("Person\t{\"Person.name\": \"Amy\"}") // foreign tag: selected OUT
    w.println("Serves\t{\"Serves.pizzeria\": \"Corleone\", \"Serves.pizza\": \"cheese\", \"Serves.price\": 7.75}")
    w.close()
    val df = pizzaDd.load(spark, tmp.getPath, "Serves", "tagged-json")
    assert(df.columns.toSeq === Seq("pizzeria", "pizza", "price"))
    assert(df.count() === 2, "foreign-tagged rows must not become null rows")
    assert(df.filter(col("price") === 8.5).count() === 1)
    f.delete(); tmp.delete()
  }

  test("JSON-lines ingestion through the dd casts types like CSV does") {
    val tmp = new java.io.File(tempDir("graft-json"))
    val f = new java.io.File(tmp, "Serves.json")
    val w = new java.io.PrintWriter(f)
    w.println("""{"pizzeria": "Dominos", "pizza": "mushroom", "price": 8.5}""")
    w.println("""{"pizzeria": "Corleone", "pizza": "cheese", "price": 7.75}""")
    w.close()
    val df = pizzaDd.load(spark, tmp.getPath, "Serves", "json")
    assert(df.schema("price").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(df.filter(col("price") === 7.75).count() === 1)
    f.delete(); tmp.delete()
  }

  test("ORC ingestion through the dd casts types and pushes filters") {
    val tmp = new java.io.File(tempDir("graft-orc"))
    try {
      Seq(("Dominos", "mushroom", 8.5), ("Corleone", "cheese", 7.75))
        .toDF("pizzeria", "pizza", "price")
        .coalesce(1).write.mode("overwrite").orc(s"${tmp.getPath}/Serves.orc")
      val df = pizzaDd.load(spark, tmp.getPath, "Serves", "orc")
      assert(df.schema("price").dataType ===
        org.apache.spark.sql.types.DoubleType)
      assert(df.filter(col("price") === 7.75).count() === 1)
      val plan = df.filter(col("pizzeria") === "Dominos")
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(plan.contains("PushedFilters") && plan.contains("pizzeria"), plan)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp.toPath).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("Avro ingestion through the dd: container round-trip, dd casts, missing-field and non-primitive guards") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val tmp = new java.io.File(tempDir("graft-avro"))
    def write(path: java.io.File, schema: Schema,
              rows: Seq[Map[String, Any]]): Unit = {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.create(schema, path)
      rows.foreach { r =>
        val rec = new GenericData.Record(schema)
        r.foreach { case (k, v) => rec.put(k, v) }
        w.append(rec)
      }
      w.close()
    }
    try {
      // writer schema carries an EXTRA field (ignored) and a null union
      // on price (surfaces as SQL NULL after the dd cast)
      val schema = SchemaBuilder.record("Serves").fields()
        .requiredString("pizzeria").requiredString("pizza")
        .optionalDouble("price").requiredInt("extra")
        .endRecord()
      write(new java.io.File(tmp, "Serves.avro"), schema, Seq(
        Map("pizzeria" -> "Dominos", "pizza" -> "mushroom",
          "price" -> 8.5, "extra" -> 1),
        Map("pizzeria" -> "Corleone", "pizza" -> "cheese",
          "price" -> 7.75, "extra" -> 2),
        Map("pizzeria" -> "NullHouse", "pizza" -> "plain",
          "extra" -> 3)))
      val df = pizzaDd.load(spark, tmp.getPath, "Serves", "avro")
      assert(df.columns.toSeq === Seq("pizzeria", "pizza", "price"))
      assert(df.schema("price").dataType ===
        org.apache.spark.sql.types.DoubleType)
      assert(df.count() === 3)
      assert(df.filter(col("price") === 7.75).count() === 1)
      assert(df.filter(col("price").isNull).count() === 1,
        "avro null union must surface as SQL NULL")
      // round-trip: the dd-loaded frame equals the same rows loaded
      // from parquet through the same dd cast
      Seq(("Dominos", "mushroom", Some(8.5)),
          ("Corleone", "cheese", Some(7.75)),
          ("NullHouse", "plain", None: Option[Double]))
        .toDF("pizzeria", "pizza", "price")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${tmp.getPath}/Serves.parquet")
      val viaParquet = pizzaDd.load(spark, tmp.getPath, "Serves", "parquet")
      assert(df.collect().toSet === viaParquet.collect().toSet,
        "avro and parquet dd loads must agree row-for-row")
      // a writer schema LACKING a dd column refuses loudly per batch
      // instead of an all-null column
      val lacking = SchemaBuilder.record("Serves").fields()
        .requiredString("pizzeria").endRecord()
      val tmp2 = new java.io.File(tempDir("graft-avro2"))
      write(new java.io.File(tmp2, "Serves.avro"), lacking,
        Seq(Map("pizzeria" -> "X")))
      val e = intercept[Exception] {
        pizzaDd.load(spark, tmp2.getPath, "Serves", "avro").collect()
      }
      def chain(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(_.getMessage).mkString(" | ")
      assert(chain(e).contains("lacks dd column"), s"got: ${chain(e)}")
      // non-primitive dd columns refuse at plan time
      val binDd = graft.catalog.DataDictionary(Map("Media" ->
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("media_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("content",
            org.apache.spark.sql.types.BinaryType)))))
      val e2 = intercept[IllegalArgumentException] {
        binDd.load(spark, tmp.getPath, "Media", "avro")
      }
      assert(e2.getMessage.contains("flat records only"))
      // ...and so do temporal dd columns (r19 advice): Avro logical
      // date/timestamp values surface as raw int/long, whose toString
      // would fail the date/timestamp cast mid-scan (ANSI throw; NULL
      // under non-ANSI) — refuse at plan time instead
      for (t <- Seq(org.apache.spark.sql.types.DateType,
                    org.apache.spark.sql.types.TimestampType)) {
        val tempDd = graft.catalog.DataDictionary(Map("Ev" ->
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("ev_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("ts", t)))))
        val e3 = intercept[IllegalArgumentException] {
          tempDd.load(spark, tmp.getPath, "Ev", "avro")
        }
        assert(e3.getMessage.contains("silent NULLs"), s"$t: ${e3.getMessage}")
      }
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp2.toPath).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(tmp.toPath).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("runtime bloom filter from a selective dim side prunes the fact scan") {
    // The 100 TB lever beyond static pushdown: a filter on the DIMENSION
    // side can't statically prune the fact scan, but Spark's
    // InjectRuntimeFilter builds a bloom filter over the dim join keys at
    // runtime and applies it to the fact side BEFORE the join shuffle —
    // rows for non-matching keys never cross the wire. Local fixtures sit
    // under the production-size thresholds, so the test lowers them to
    // observe the plan; GraftSession leaves the defaults (10 MB / 10 GB)
    // that make this fire exactly when a real fact table is scan-heavy.
    val c = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.enabled").map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      c.set("spark.sql.adaptive.enabled", "false")
      val fact = table(spark, sfDir, "lineitem")
      val dim = table(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a bloom-filter runtime filter on the fact scan:\n$plan")
      // pruning must not change the answer
      val expected = fact.join(broadcast(dim),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("cnt"))
        .collect().toSeq
      assert(joined.collect().toSeq === expected)
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None)    => c.unset(k)
    }
  }

  test("z-order layout keeps per-file envelopes narrow on BOTH dimensions") {
    // A single-column sort clusters that column perfectly and leaves the
    // other scattered across the full range — filters on the second
    // dimension prune nothing. Z-order trades a little of the first
    // dimension's locality for narrow min-max envelopes on ALL
    // interleaved dimensions, which is what file-level stats pruning
    // actually consumes. Verified on real data: per-partition span of
    // each dimension, z-ordered vs orderkey-sorted.
    val li = table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val bounds = li.agg(
      min("l_orderkey"), max("l_orderkey"),
      min("l_partkey"), max("l_partkey")).head()
    val okSpan = (bounds.getLong(1) - bounds.getLong(0)).toDouble
    val pkSpan = (bounds.getLong(3) - bounds.getLong(2)).toDouble
    // average normalized (span_orderkey, span_partkey) per output split
    def spans(laidOut: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val per = laidOut
        .withColumn("__pid", org.apache.spark.sql.functions.spark_partition_id())
        .groupBy(col("__pid"))
        .agg(((max("l_orderkey") - min("l_orderkey")) / okSpan).as("ok"),
          ((max("l_partkey") - min("l_partkey")) / pkSpan).as("pk"))
        .agg(avg("ok"), avg("pk")).head()
      (per.getDouble(0), per.getDouble(1))
    }
    val (zOk, zPk) = spans(
      graft.ops.Layout.zorderBy(li, Seq("l_orderkey", "l_partkey"),
        numFiles = 16))
    val (sOk, sPk) = spans(
      li.repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions(col("l_orderkey")))
    // sorted layout: first dim tight, second dim ~full range
    assert(sOk < 0.2 && sPk > 0.8, s"sorted spans: $sOk / $sPk")
    // z-ordered: BOTH dims well under the full range → both prune
    assert(zOk < 0.6 && zPk < 0.6, s"z-ordered spans: $zOk / $zPk")
  }

  test("pair-set cache: a dir swap releases the stale persisted blocks") {
    val dirA = sfDir // sf0.001
    val dirB = "/root/testdata/sf0.01"
    def persisted: Set[String] = spark.sparkContext.getPersistentRDDs.values
      .map(_.name).filter(n =>
        n != null && n.startsWith("graft-verified-pairs")).toSet
    graft.clearCaches(spark) // defined state however earlier suites left it
    assert(SparkEntry.queries("q39_dedup_survivors")(spark, dirA).count() > 0)
    assert(persisted === Set(s"graft-verified-pairs:$dirA"))
    // same session, new dir: q46 reuses the cache slot — the stale dirA
    // blocks must be RELEASED, not leak for the life of the session
    assert(SparkEntry.queries("q46_dup_clusters")(spark, dirB).count() > 0)
    assert(persisted === Set(s"graft-verified-pairs:$dirB"))
    // both consumers on the new dir share the one materialization
    assert(SparkEntry.queries("q39_dedup_survivors")(spark, dirB).count() > 0)
    assert(persisted === Set(s"graft-verified-pairs:$dirB"))
    // explicit teardown (Bench/Verify path) frees everything
    graft.clearCaches(spark)
    assert(persisted === Set.empty[String])
  }

  test("session memo: each entry builds once per (session, dir) and again after clearCaches") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs(prefix: String): Set[String] = Option(tmp.listFiles)
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith(prefix)).toSet
    // (query, its memo key, the stored artifact's temp-dir prefix)
    val rows = Seq(
      ("q80_hybrid_ann_stored", "ivf-stored", Some("graft-ivf-stored-")),
      ("q102_bm25_stored", "postings-stored", Some("graft-postings-stored-")),
      ("q104_cross_span_scrub", "spanidx-stored", Some("graft-spanidx-stored-")),
      ("q208_lang_id_stored", "langmodel-stored", Some("graft-langmodel-stored-")),
      ("q227_bloom_scrub", "bloom-stored", Some("graft-bloom-stored-")),
      ("q232_phrase_stored", "positional-stored", Some("graft-positional-stored-")),
      ("q270_media_cross_neardup", "fp-index", Some("graft-fp-index-")),
      ("q277_cross_jaccard_stored", "jac-index", Some("graft-jac-index-")),
      ("q286_cross_semantic", "emb-ivf", Some("graft-emb-ivf-")),
      ("q290_entity_link_stored", "er-registry", Some("graft-er-registry-")),
      ("q39_dedup_survivors", "verified-pairs", None),
      ("q46_dup_clusters", "verified-pairs", None),
      ("q77_hybrid_ann", "fit16", None),
      ("q82_subword_pack", "merges", None),
      ("q33_sql_window", "sql-door", None))
    for ((name, key, prefix) <- rows) withClue(s"$name: ") {
      val q = SparkEntry.queries(name)
      graft.clearCaches(spark)
      assert(SessionMemo.keys(spark) === Set.empty[String])
      q(spark, sfDir)
      assert(SessionMemo.keys(spark).contains(key))
      val built = prefix.map(dirs)
      val builds = SessionMemo.builds
      q(spark, sfDir) // same session and data dir: every memo is reused
      assert(SessionMemo.builds === builds, "a second call must build nothing")
      assert(prefix.map(dirs) === built)
      graft.clearCaches(spark)
      assert(!SessionMemo.keys(spark).contains(key))
      q(spark, sfDir)
      assert(SessionMemo.keys(spark).contains(key),
        "after clearCaches, the next call must build again")
      for (p <- prefix; b <- built)
        assert((dirs(p) -- b).size === 1,
          s"after clearCaches, $name must fit and save a new stored artifact")
    }
    graft.clearCaches(spark)
  }

  /** Copy the sf0.001 fixture tables into a new directory. */
  private def fixtureCopy(prefix: String): String = {
    val dir = tempDir(prefix)
    for (f <- new java.io.File(sfDir).listFiles if f.getName.endsWith(".parquet"))
      java.nio.file.Files.copy(f.toPath, new java.io.File(dir, f.getName).toPath)
    dir
  }

  /** Replace the parquet file at `path` with `df`'s rows the way another
    * program would: a file copy, not a Spark write, which would refresh
    * every cached plan reading the path itself. */
  private def rewrite(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val out = tempDir("graft-rewrite")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    val part = new java.io.File(out).listFiles.filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private lazy val tpchDd = graft.catalog.DataDictionary.fromJson(new String(
    getClass.getResourceAsStream("/tpch_dd.json").readAllBytes(), "UTF-8"))

  test("an Engine is a snapshot: a relation file rewritten between two Engines is read anew") {
    val dir = fixtureCopy("graft-engine-snap")
    def urgent(eng: graft.api.Engine) = eng.sql(
      "SELECT count(*) FROM orders WHERE o_orderpriority = '1-URGENT'").head().getLong(0)
    val first = new graft.api.Engine(spark, tpchDd, dir)
    assert(spark.catalog.isCached("orders"), "sf0.001 orders is a small relation")
    assert(urgent(first) > 0)
    rewrite(table(spark, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
      s"$dir/orders.parquet")
    assert(urgent(new graft.api.Engine(spark, tpchDd, dir)) === 0,
      "a new Engine must not serve the old file's cached rows")
    graft.clearCaches(spark)
  }

  test("an Engine over other files frees the previous Engine's in-memory copy") {
    new graft.api.Engine(spark, tpchDd, fixtureCopy("graft-engine-old"))
    val old = spark.table("orders")
    old.count()
    assert(old.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    new graft.api.Engine(spark, tpchDd, sfDir)
    assert(old.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "the replaced view's in-memory copy must be freed")
    graft.clearCaches(spark)
  }

  test("sql door: a relation file rewritten between two calls is read anew") {
    val dir = fixtureCopy("graft-door-snap")
    val q31 = SparkEntry.queries("q31_sql_agg")
    def priorities = q31(spark, dir).collect().map(_.getString(0)).toSet
    assert(priorities.contains("1-URGENT"))
    rewrite(table(spark, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
      s"$dir/orders.parquet")
    assert(!priorities.contains("1-URGENT"),
      "the SQL door must not serve the old file's rows")
    graft.clearCaches(spark)
  }

  test("sql door and an Engine over the same names each answer over their own files") {
    val q31 = SparkEntry.queries("q31_sql_agg")
    def door = q31(spark, sfDir).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val dir = fixtureCopy("graft-door-engine")
    rewrite(table(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
      s"$dir/orders.parquet")
    val eng = new graft.api.Engine(spark, tpchDd, dir)
    def priorities = {
      val df = eng.sql("SELECT DISTINCT o_orderpriority FROM orders")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("In-memory table orders"), plan)
      df.count()
    }
    val want = door
    assert(want.size > 1, "sf0.001 orders over the q31 price cut span several priorities")
    for (round <- 1 to 2) {
      assert(priorities === 1, s"round $round: the Engine reads its own orders")
      assert(door === want, s"round $round: the door reads its own dir's orders")
    }
    graft.clearCaches(spark)
  }

  test("clearCaches frees an Engine's in-memory relations") {
    val eng = new graft.api.Engine(spark, tpchDd, sfDir)
    eng.sql("SELECT count(*) FROM orders").collect()
    val views = tpchDd.relations.keys.toSeq
    assert(views.forall(spark.catalog.isCached), "sf0.001 relations are all small")
    graft.clearCaches(spark)
    assert(views.filter(spark.catalog.isCached).isEmpty,
      "clearCaches must leave no cached entry behind")
  }

  test("q227/q232: a warm call opens its stored artifact and starts no job") {
    for (name <- Seq("q227_bloom_scrub", "q232_phrase_stored")) {
      val q = SparkEntry.queries(name)
      q(spark, sfDir)
      assert(jobsStartedBy(q(spark, sfDir))._2 === 0, name)
    }
  }

  test("int64-envelope widening: q180/q202/q242/kappa stay exact past 2^63 on planted overflow fixtures (the q293 class, r20 sweep)") {
    // The r19 q293 finding generalized: every sufficient-statistic
    // query whose bilinear algebra could pass 2^63 at REALISTIC corpus
    // scale now runs the products in DECIMAL(38,0) (graft.dec). Each
    // fixture here provably exceeds the old long envelope (BigInt
    // replays pin it), so the old long x long code THREW a job-killing
    // overflow under the session's ANSI default (the r20 audit
    // corrected r19's "wraps silently" claim) while DuckDB widened to
    // HUGEINT and kept going; the widened path must reproduce the
    // exact replay, with integer witness columns try_cast-NULLing
    // where the true value no longer fits their declared BIGINT.
    // q203's overflow (Σy² at ~10^8
    // events/day) is NOT query-plantable — daily counts are bounded by
    // fixture rows and epoch-nanos cap the day span — so its shape is
    // covered by the shared-mechanism law at the end plus the oracle
    // gate at fixture scale.
    val max = BigInt(Long.MaxValue)

    // --- q180 chi-square: one type, ONE hour-of-week cell, T = 2.2e7.
    // chi2_num = (167T)^2 + 167*T^2 ~ 1.35e19 > 2^63.
    val t180 = 22000000L
    val num180 = BigInt(167) * t180 * (BigInt(167) * t180) +
      BigInt(167) * t180 * t180
    assert(!num180.isValidLong, "q180 fixture must exceed int64")
    val d180 = tempDir("graft-ovf-180")
    spark.range(t180)
      .select(lit("t").as("event_type"),
        lit(5L * 86400L * 1000000000L).as("ts"))
      .write.mode("overwrite").parquet(s"$d180/events.parquet")
    val r180 = queries.AnalyticQueries.q180(spark, d180)
      .select("t", "n_cells", "chi2_num", "chi2_den", "chi2")
      .as[(Long, Long, Option[Long], Long, Double)].collect()
    val exp180 = BigDecimal(num180.toDouble / (168L * t180).toDouble)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r180.toSeq === Seq((t180, 1L, None, 168L * t180, exp180)),
      s"q180 got ${r180.mkString}")

    // --- q202 gini: 12 suppliers, revenue i*1e16 cents. gini_den =
    // n*sum_c = 9.36e18 > 2^63 (NULL witness); gini_num = 2.86e18
    // fits and must be EXACT (the old path wrapped both intermediate
    // products); gini divides the exact decimals.
    val sumC = BigInt(78) * BigInt("10000000000000000")      // Σ i·1e16
    val iw = BigInt(650) * BigInt("10000000000000000")       // Σ i²·1e16
    val num202 = iw * 2 - BigInt(13) * sumC
    val den202 = BigInt(12) * sumC
    assert(!den202.isValidLong && (iw * 2) > max,
      "q202 fixture must exceed int64")
    val d202 = tempDir("graft-ovf-202")
    (1 to 12).map(i => (i.toLong, i.toDouble * 1e14, 0.0))
      .toDF("l_suppkey", "l_extendedprice", "l_discount")
      .write.mode("overwrite").parquet(s"$d202/lineitem.parquet")
    val r202 = queries.AnalyticQueries.q202(spark, d202)
      .select("n", "sum_c", "gini_num", "gini_den", "gini")
      .as[(Long, Long, Option[Long], Option[Long], Double)].collect()
    val exp202 = BigDecimal(num202.toDouble / den202.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r202.toSeq === Seq((12L, sumC.toLong, Some(num202.toLong),
      None, exp202)), s"q202 got ${r202.mkString}")

    // --- q242 acf: 90 000 consecutive days alternating 1 / 241
    // events. d_t = ±1.08e7 so den = Σd² = 1.05e19 > 2^63; the seven
    // acf_bp rows must equal the BigInt replay of 10000·num div den.
    val days242 = 90000L
    val dMag = BigInt(10800000)                  // 90000·(241−121)/... = n·120
    val den242 = BigInt(days242) * dMag * dMag
    assert(!den242.isValidLong, "q242 fixture must exceed int64")
    val d242 = tempDir("graft-ovf-242")
    spark.range(days242)
      .select((col("id") * lit(86400L * 1000000000L)).as("day_ns"),
        when(col("id") % 2 === 0, lit(1)).otherwise(lit(241)).as("k"))
      .select(col("day_ns"), explode(sequence(lit(1), col("k"))))
      .select(col("day_ns").as("ts"))
      .write.mode("overwrite").parquet(s"$d242/events.parquet")
    // replay: d_t = (−1)^(t+1)·dMag ⇒ num(l) = (−1)^l·(n−l)·d²
    val exp242 = (1L to 7L).map { l =>
      val num = BigInt(if (l % 2 == 1) -1 else 1) *
        BigInt(days242 - l) * dMag * dMag
      (l, days242, (BigInt(10000) * num / den242).toLong)
    }.toSet
    val r242 = queries.AnalyticQueries.q242(spark, d242)
      .as[(Long, Long, Long)].collect().toSet
    assert(r242 === exp242, s"q242 got $r242")

    // --- cohenKappa: rater A constant, rater B 99% agreeing, n =
    // 3.1e7 ⇒ pe_num·10⁴ = 9.51e18 > 2^63 (the old pe_bp wrapped
    // negative); exact replay of all three bp columns.
    val n262 = 31000000L
    val nbY = n262 / 100
    val peNum = BigInt(n262) * (n262 - nbY)
    assert((peNum * 10000) > max, "kappa fixture must exceed int64")
    val kdf = spark.range(n262).select(lit("x").as("a"),
      when(col("id") % 100 === 0, lit("y")).otherwise(lit("x")).as("b"))
    val rk = ops.Classify.cohenKappa(kdf, "a", "b")
      .select("n", "n_agree", "po_bp", "pe_bp", "kappa_bp")
      .as[(Long, Long, Long, Long, Option[Long])].collect()
    val poBp = BigInt(n262 - nbY) * 10000 / n262
    val peBp = peNum * 10000 / (BigInt(n262) * n262)
    val kBp = (poBp - peBp) * 10000 / (10000 - peBp)
    assert(rk.toSeq === Seq((n262, n262 - nbY, poBp.toLong, peBp.toLong,
      Some(kBp.toLong))), s"kappa got ${rk.mkString}")

    // --- shared mechanism (q203's shape): the dec-widened bilinear
    // combination m·S₁ − S₂·S₃ equals the BigInt replay past 2^63, and
    // past DECIMAL(38,0)'s 10^38 envelope it still fails LOUD under
    // the session's ANSI default — never a silent wrap.
    val (m, s1, s2, s3) =
      (4000000000L, 5000000000L, 4000000000L, 900000000L)
    val expBi = BigInt(m) * s1 - BigInt(s2) * s3
    assert(!(BigInt(m) * s1).isValidLong, "mechanism fixture past 2^63")
    val bi = Seq((m, s1, s2, s3)).toDF("m", "s1", "s2", "s3")
      .select((dec(col("m")) * dec(col("s1")) -
        dec(col("s2")) * dec(col("s3"))).as("v"))
      .select(col("v").cast("string")).as[String].head()
    assert(BigInt(bi) === expBi, s"bilinear got $bi")
    val over = intercept[Exception] {
      spark.range(1)
        .select(((col("id") + Long.MaxValue).cast("decimal(20,0)"))
          .as("x"))
        .select((col("x") * col("x") * col("x")).as("v")) // ~7.8e56
        .collect()
    }
    assert(over.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE"),
      s"past 10^38 the decimal product must fail loud, got: " +
        over.getMessage.take(100))
  }
}
