package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{cents, dec, events, table}
import graft.catalog.DataDictionary

/** Analytic-breadth correctness queries: sorts/top-k, window functions,
  * set operations, scalar string/date functions, time-series over `events`,
  * and the SQL-text door (round-1 verdict items #2, #5, #10). The
  * reference has none of these (SURVEY §2.3) — they're the "our Spark
  * primitive" breadth layer, each gated by a DuckDB oracle.
  */
object AnalyticQueries {

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    table(s, dir, name)

  /** Top-k: ORDER BY + LIMIT plans as TakeOrderedAndProject — per-partition
    * partial top-k then a single driver merge of k×partitions rows; no
    * global sort at any scale. Tie-break on the key keeps it deterministic.
    */
  def q16(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)

  /** Window function: first order per customer (row_number over a
    * per-customer window). One shuffle on o_custkey; window state is one
    * row — scales to any customer count.
    */
  def q17(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("orders")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))

  /** Set operations: ((BUILDING ∪ high-balance) ∩ has-orders) ∖ MACHINERY.
    * union/intersect/except all plan as hash aggregates / joins on the one
    * key column — the shuffles carry only c_custkey.
    */
  def q18(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir)("customer")
    val building = c.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val rich = c.filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val buyers = t(s, dir)("orders").select(col("o_custkey").as("c_custkey"))
    val machinery = c.filter(col("c_mktsegment") === "MACHINERY")
      .select(col("c_custkey"))
    building.union(rich).distinct().intersect(buyers).except(machinery)
  }

  /** Retention cohort matrix — the classic product-analytics surface
    * over the events table: users cohorted by FIRST-ACTIVE day, each
    * later day's distinct actives counted per cohort (the D1/D7
    * retention matrix), with the retention rate against the cohort's
    * size. Days are exact epoch-day integers (`epoch_us div
    * 86400000000`) rather than calendar `date_trunc` — deliberately:
    * day-boundary timezone conventions differ across engines, while
    * integer division on the shared microsecond clock is bit-identical
    * everywhere (the q34 posture). Two shuffles — the per-user
    * first-day aggregate (user-keyed) and the cohort-cell aggregate —
    * plus the single-distinct two-stage count; the first-day relation
    * is user-cardinality and joins back broadcast-or-shuffled at
    * Spark's discretion.
    */
  def q130(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"),
      expr("ts_ns div 1000 div 86400000000").as("d"))
    val first = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    val cells = e.join(first, Seq("user_id"))
      .groupBy(col("cohort_day"), (col("d") - col("cohort_day")).as("day_off"))
      .agg(countDistinct(col("user_id")).as("n_active"))
    val sizes = first.groupBy(col("cohort_day"))
      .agg(countDistinct(col("user_id")).as("cohort_size"))
    cells.join(sizes, Seq("cohort_day"))
      .select(col("cohort_day"), col("day_off"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") /
          col("cohort_size").cast("double"), 4).as("retention"))
  }

  /** Ordered k-step funnel — the sequential generalization of q48's
    * two-step conversion: view → click → purchase where every step
    * must be STRICTLY after the previous one in event time, plus a
    * 1-day conversion window from the first view (over a planted
    * first-3-days slice of the stream, so every funnel level — no
    * view / view-no-click / click-no-purchase / converted-late /
    * converted — is genuinely populated: 150/115/66/37/13 at sf0.01). The sequencing is
    * two chained window passes over ONE user-keyed exchange: a
    * strictly-before RANGE frame (`UNBOUNDED PRECEDING .. -1 μs`)
    * carries the running earliest qualifying prior step, so a step-2
    * event qualifies iff SOME view precedes it, and a step-3 event
    * iff some QUALIFYING click precedes it — the earliest-chain
    * semantics, immune to purchases that precede views (q48's trap) —
    * and because the frame is a TIME range, same-microsecond ties
    * resolve identically in any engine regardless of row order. The
    * per-user aggregate rides the window's partitioning (no second
    * user exchange); the report is one row of exact counts + 4dp
    * rates. All time arithmetic on exact epoch micros (q34 posture).
    */
  def q142(s: SparkSession, dir: String): DataFrame = {
    val winUs = 86400000000L // 1 day of microseconds
    val e = events(s, dir).select(col("user_id"), col("event_type"),
      expr("ts_ns div 1000").as("ts_us"))
      // first-3-days slice: thins each user's stream so every funnel
      // level genuinely drops (full-month fixtures convert everyone)
      .filter(col("ts_us") < 1704326400000000L)
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val withQ2 = e.withColumn("t2cand",
      when(col("event_type") === "click" &&
        min(when(col("event_type") === "view", col("ts_us"))).over(wPrev)
          .isNotNull,
        col("ts_us")))
    val perUser = withQ2.withColumn("t3cand",
        when(col("event_type") === "purchase" &&
          min(col("t2cand")).over(wPrev).isNotNull, col("ts_us")))
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("t1"),
        min(col("t2cand")).as("t2"),
        min(col("t3cand")).as("t3"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(col("t1")).as("n_view"),
      count(col("t2")).as("n_view_click"),
      count(col("t3")).as("n_full_funnel"),
      count(when(col("t3") - col("t1") <= winUs, 1)).as("n_converted_1d"))
      .select(col("n_users"), col("n_view"), col("n_view_click"),
        col("n_full_funnel"), col("n_converted_1d"),
        round(col("n_full_funnel").cast("double") /
          col("n_view").cast("double"), 4).as("cr_funnel"),
        round(col("n_converted_1d").cast("double") /
          col("n_view").cast("double"), 4).as("cr_1d"))
  }

  /** Two-proportion A/B z-test — the experiment-analysis surface over
    * events: users split by `user_id mod 2`, converted = has a view
    * AND a purchase; the report is one row of exact integer counts +
    * 6dp rates + the pooled-variance z at 4dp. The float path is
    * engine-neutral because every input is an exact int64 count and
    * the formula is written in ONE fixed operand order on both sides
    * (IEEE ops incl. sqrt are correctly rounded, so identical order ⇒
    * identical bits — the q143 binning posture applied to a test
    * statistic). Two user-keyed aggregates collapsing to a 1-row
    * report.
    */
  def q153(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      // first-3-days slice (the q142 planting): on the full month every
      // user converts, pooled variance hits 0 and z is undefined
      .filter(col("ts_us") < 1704326800000000L)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "view", 1).otherwise(0))
          .as("hv"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("hp"))
      .select((pmod(col("user_id"), lit(2L)) === 0).as("isA"),
        (col("hv") === 1 && col("hp") === 1).as("conv"))
    val agg = perUser.agg(
      count(when(col("isA"), 1)).as("n_a"),
      count(when(col("isA") && col("conv"), 1)).as("conv_a"),
      count(when(!col("isA"), 1)).as("n_b"),
      count(when(!col("isA") && col("conv"), 1)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    agg.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      // degenerate experiments (pooled rate 0 or 1) have no z — NULL,
      // never a divide-by-zero (ANSI mode) or an Infinity
      when(se =!= 0.0, round((pa - pb) / se, 4)).as("z"))
  }

  /** Event-transition matrix — the Markov view of user journeys: per
    * user, consecutive event pairs under the deterministic
    * (ts, event_id) order (raw ts collides; the unique id makes the
    * lead engine-neutral), counted per (from, to) with the 4dp
    * row-share. One user exchange for the lead, one pair-keyed
    * aggregate, one from-keyed window over the 25-row matrix — the
    * windows after the aggregate run on matrix-cardinality data,
    * never events.
    */
  def q155(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val pairs = events(s, dir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val cnt = pairs
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val wf = Window.partitionBy(col("from_type"))
    cnt.select(col("from_type"), col("to_type"), col("n"),
      round(col("n").cast("double") /
        sum(col("n")).over(wf).cast("double"), 4).as("from_share"))
  }

  /** Higher-order array functions through the SQL door — the lambda
    * surface (`transform` / `filter` / `aggregate` / `exists` /
    * `array_max`) a SQL user reaches for on array columns; these are
    * the codegen-friendly primitives the whole pipeline catalog is
    * built from, here exposed and gated AS SQL. DuckDB's list lambdas
    * express the identical semantics under different names
    * (list_transform / list_filter / list_sum / list_contains /
    * list_max), so the oracle is a dialect translation, not a
    * semantic approximation — integer outputs keep the comparison
    * exact.
    */
  def q158(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """SELECT doc_id,
              size(filter(split(coalesce(text, ''), ' '),
                x -> length(x) >= 5)) AS n_long,
              aggregate(transform(split(coalesce(text, ''), ' '),
                x -> length(x)), 0, (a, x) -> a + x) AS total_chars,
              exists(split(coalesce(text, ''), ' '),
                x -> x = 'the') AS has_the,
              array_max(transform(split(coalesce(text, ''), ' '),
                x -> length(x))) AS max_len
       FROM documents""")

  /** Cumulative user-growth curve — first-active HOUR per user (exact
    * epoch-hour integers, the q34/q130 posture; hour grain because the
    * fixture's population is fully active within two days — day grain
    * would leave a 2-point curve), new users per hour, and the running
    * total: the product-analytics headline chart. One user-keyed
    * aggregate, one hour-keyed count, then a window over the
    * HOUR-cardinality relation — never over events.
    */
  def q160(s: SparkSession, dir: String): DataFrame = {
    val first = events(s, dir)
      .select(col("user_id"), expr("ts_ns div 1000 div 3600000000")
        .as("h"))
      .groupBy(col("user_id")).agg(min(col("h")).as("first_hour"))
    val perHour = first.groupBy(col("first_hour"))
      .agg(countDistinct(col("user_id")).as("n_new"))
    val w = Window.orderBy(col("first_hour"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perHour.select(col("first_hour"), col("n_new"),
      sum(col("n_new")).over(w).as("n_cum"))
  }

  /** Join-strategy HINTS through the SQL door — the knob a SQL user
    * actually turns when the optimizer guesses wrong at 100 TB: the
    * same nation⨝customer aggregate twice, once under
    * `/*+ BROADCAST(nation) */` and once under `/*+ MERGE(nation) */`
    * (which also blocks AQE's runtime broadcast demotion — the hint
    * contract). Values are identical by construction — hints steer
    * strategy, never semantics — so BOTH branches gate against the
    * same unhinted DuckDB text (comments, so the oracle text IS the
    * Spark text), while PlanSpec pins that the plan really contains
    * one BroadcastHashJoin AND one SortMergeJoin.
    */
  def q163(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """SELECT /*+ BROADCAST(nation) */ 'bcast' AS strategy, n_name,
              count(*) AS n
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name
       UNION ALL
       SELECT /*+ MERGE(nation) */ 'merge', n_name, count(*)
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name""")

  /** Three-valued NULL semantics, gated over DATA (the divergence
    * ledger's territory made executable): a planted 1-in-7 NULL
    * status, then per status group — NULLs form their OWN group in
    * both engines — the counts that only come out right if the engine
    * implements 3VL exactly: `count(*)` vs `count(s)`, `IN` (NULL row
    * never true), `NOT IN` against a list (NULL row never true — the
    * classic trap), `(s = 'O') IS NULL` (comparison with NULL is
    * UNKNOWN, not false), and the ANSI null-safe comparator
    * `IS NOT DISTINCT FROM` (true exactly on the NULL group).
    */
  def q164(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """WITH t AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderstatus END AS s
                  FROM orders)
       SELECT s, count(*) AS n, count(s) AS n_nonnull,
              sum(CASE WHEN s IN ('O', 'F') THEN 1 ELSE 0 END)
                AS in_true,
              sum(CASE WHEN s NOT IN ('O', 'X') THEN 1 ELSE 0 END)
                AS notin_true,
              sum(CASE WHEN (s = 'O') IS NULL THEN 1 ELSE 0 END)
                AS cmp_unknown,
              sum(CASE WHEN s IS NOT DISTINCT FROM NULL THEN 1 ELSE 0
                END) AS nullsafe_null
       FROM t GROUP BY s""")

  /** Exact order-statistic percentile summary (P50/P90/P99 per event
    * type over `value`) — the observability surface every latency
    * dashboard reads, computed the q110 way: the rank-k ORDER
    * STATISTIC, never interpolation (percentile_cont's interpolation
    * arithmetic is not engine-exact; the k-th smallest VALUE is).
    * Ranks are pure integers — ceil(n·p/100) = (n·p + 99) div 100 —
    * and the selected value is deterministic under ties because a
    * sorted multiset's k-th element doesn't care how equal values are
    * ordered among themselves. One exchange: a (type)-keyed window
    * provides rank and count in the same pass, conditional aggregates
    * pick the three ranks out.
    */
  def q170(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    def rankFor(p: Int): org.apache.spark.sql.Column = expr(s"(__n * $p + 99) div 100")
    events(s, dir).select(col("event_type"), col("event_id"),
        col("value"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .groupBy(col("event_type"))
      .agg(max(col("__n")).as("n"),
        min(col("value")).as("min_v"), max(col("value")).as("max_v"),
        max(when(col("__rn") === rankFor(50), col("value"))).as("p50"),
        max(when(col("__rn") === rankFor(90), col("value"))).as("p90"),
        max(when(col("__rn") === rankFor(99), col("value"))).as("p99"))
  }

  /** MULTISET set operations — `INTERSECT ALL` / `EXCEPT ALL`, the bag
    * semantics q18's distinct variants don't exercise (and a different
    * physical shape: Spark plans the ALL variants as count-paired
    * aggregates + a Generate replicating each row min(m_a, m_b) /
    * max(0, m_a − m_b) times, not as semi/anti joins). The operand
    * relations project a deliberately duplicate-heavy key (l_suppkey
    * under two lineitem filters), so multiplicities genuinely differ
    * from the distinct result almost everywhere; both branches ride one
    * tagged UNION ALL. DuckDB implements the identical SQL-standard bag
    * semantics, so the oracle is the same algebra verbatim.
    */
  def q127(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir)("lineitem")
    val a = l.filter(col("l_quantity") >= 25).select(col("l_suppkey"))
    val b = l.filter(col("l_returnflag") === "R").select(col("l_suppkey"))
    a.intersectAll(b).withColumn("op", lit("intersect_all"))
      .unionAll(a.exceptAll(b).withColumn("op", lit("except_all")))
  }

  /** Modern ANSI aggregate/window surface through the SQL door, in one
    * gated query — the three clauses a SQL-door user reaches for that
    * the catalog had no evidence of: `FILTER (WHERE …)` on aggregates
    * (conditional aggregation without CASE scaffolding — Spark rewrites
    * it into the aggregate's own filter, still one partial-combined
    * pass), ordered-set `percentile_cont`/`percentile_disc WITHIN GROUP`
    * (exact percentiles with linear interpolation / discrete pick —
    * both engines use lower + (upper−lower)·frac on the shared doubles,
    * 4dp-rounded), and a named `WINDOW w AS (…)` clause shared by two
    * window functions (the rank and the running sum ride ONE window
    * definition, hence one sort within the one returnflag exchange;
    * the default ordered-window frame — RANGE UNBOUNDED PRECEDING to
    * CURRENT ROW, identical in both engines — is exact here because
    * the (orderkey, linenumber) ordering is unique, so no peer rows
    * exist; Spark's parser accepts a bare `OVER w` reference but not
    * a reference-plus-frame `OVER (w ROWS …)`).
    * QUALIFY is deliberately absent: Spark 4.1's parser does not accept
    * it, and the decorrelated-lateral (q125) covers the per-group
    * top-k shape it sugars.
    */
  def q131(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """WITH agg AS (
         SELECT l_returnflag,
                count(*) AS n,
                count(*) FILTER (WHERE l_quantity >= 25) AS n_big,
                sum(CAST(l_quantity AS BIGINT))
                  FILTER (WHERE l_quantity < 10) AS small_qty,
                round(percentile_cont(0.5)
                  WITHIN GROUP (ORDER BY l_quantity), 4) AS med_qty,
                percentile_disc(0.25)
                  WITHIN GROUP (ORDER BY l_quantity) AS q1_qty
         FROM lineitem GROUP BY l_returnflag),
       wnd AS (
         SELECT l_returnflag, l_orderkey, l_linenumber,
                row_number() OVER w AS rn,
                sum(CAST(l_quantity AS BIGINT)) OVER w AS run_qty
         FROM lineitem
         WINDOW w AS (PARTITION BY l_returnflag
                      ORDER BY l_orderkey, l_linenumber))
       SELECT a.l_returnflag, a.n, a.n_big, a.small_qty, a.med_qty,
              a.q1_qty, w.l_orderkey, w.l_linenumber, w.rn, w.run_qty
       FROM agg a JOIN wnd w ON a.l_returnflag = w.l_returnflag
       WHERE w.rn <= 5""")

  /** Modern-SQL ergonomics through the SQL door — `GROUP BY ALL` /
    * `ORDER BY ALL`, the DuckDB-pioneered shorthand Spark 4 adopted
    * (group by every non-aggregate select item INCLUDING computed
    * expressions, order by every output column left-to-right): the
    * q131 posture one step further — here the ENTIRE text, not just
    * the clauses, is engine-identical byte for byte, so the oracle IS
    * the query string. min/max/count only (order statistics of stored
    * doubles are exact — no float summation enters the hash).
    */
  private val q144Sql =
    """SELECT substr(o_orderpriority, 1, 1) AS pri_band,
              o_orderstatus AS st,
              count(*) AS n,
              min(o_totalprice) AS min_price,
              max(o_totalprice) AS max_price
       FROM orders
       GROUP BY ALL
       ORDER BY ALL"""

  def q144(s: SparkSession, dir: String): DataFrame =
    sqlDoor(s, dir, q144Sql)

  /** Scalar string/date functions over the (previously untouched) timestamp
    * columns: year/month extraction, substring, upper, concat.
    */
  def q19(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("orders")
      .groupBy(
        year(col("o_orderdate")).as("yr"),
        substring(col("o_orderpriority"), 1, 1).as("pri"),
        upper(concat(col("o_orderstatus"), lit("-"),
          substring(col("o_orderpriority"), 3, 20))).as("tag"))
      .agg(count(lit(1)).as("cnt"),
        min(month(col("o_orderdate"))).as("first_mon"))

  /** Tumbling-window aggregation over the events stream table — the batch
    * twin of the Structured Streaming pipeline in graft.streaming. Exact
    * integer cents keep the sum hash-stable at any parallelism.
    */
  def q20(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(
        window(col("ts"), "1 hour").getField("start").as("hour_start"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("value"))).as("sum_value_c"))

  /** HOPPING (sliding) window aggregation — q20's tumbling twin with
    * `window(ts, "1 hour", "30 minutes")`: every event lands in
    * win/hop = 2 overlapping windows, which Spark plans as an Expand
    * (2 rows per event) feeding the same partial-combined aggregate —
    * the standard smoothing/trend shape a tumbling window can't
    * express. Exact integer cents (the q20 contract) and epoch-aligned
    * window starts; the oracle regenerates both containing windows per
    * event with integer micros arithmetic.
    */
  def q135(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(
        window(col("ts"), "1 hour", "30 minutes")
          .getField("start").as("win_start"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("value"))).as("sum_value_c"))

  /** The ranking-function family under REAL ties — rank, dense_rank,
    * percent_rank, cume_dist in one pass (ntile is q98-gated): ordered
    * by o_orderdate within priority, where date collisions produce
    * genuine tie classes, so the four functions' tie semantics (gaps vs
    * no gaps; (rank−1)/(n−1) vs peers≤x/n) all diverge and each is a
    * pure function of the ORDER KEY — deterministic per row even with
    * ties (the reason ntile, which splits tie classes arbitrarily, is
    * gated on a unique ordering elsewhere instead). One window over one
    * priority exchange; doubles rounded 6dp.
    */
  def q136(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_orderdate"))
    t(s, dir)("orders").select(col("o_orderkey"), col("o_orderpriority"),
      col("o_orderdate"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      round(percent_rank().over(w), 6).as("prnk"),
      round(cume_dist().over(w), 6).as("cd"))
  }

  // ── SQL-text door (reference entry point 1, `main.py:22-23`) ────────────

  private lazy val tpchDd: DataDictionary = {
    val in = getClass.getResourceAsStream("/tpch_dd.json")
    DataDictionary.fromJson(new String(in.readAllBytes(), "UTF-8"))
  }

  /** The pipeline corpora (documents, embeddings) as a dd, so the SQL
    * door spans the WHOLE catalog, not just TPC-H (round-6 verdict #3).
    * `events` is not dd-castable — its TIMESTAMP(NANOS) column needs the
    * `graft.events` nanos handling — so [[sqlDoor]] registers it as a
    * view from that reader instead.
    */
  private lazy val pipelineDd: DataDictionary = {
    val in = getClass.getResourceAsStream("/pipeline_dd.json")
    DataDictionary.fromJson(new String(in.readAllBytes(), "UTF-8"))
  }

  private lazy val fullDd: DataDictionary =
    DataDictionary(tpchDd.relations ++ pipelineDd.relations)

  /** dd-registered views over the sf dir, queried with raw SQL text —
    * parse/analyze/optimize all Catalyst (the reference needs
    * sql2ra+raopt+ra2spark for this, SURVEY §3.1).
    *
    * The views are plain file scans, not a [[graft.api.Engine]]'s
    * in-memory relations: a cache fill reads a relation whole, where a
    * file scan prunes columns (q56 never reads `text` or `embedding`)
    * and pushes filters into the reader (q54's date range), and those
    * are the plans the contract's queries have at any scale.
    *
    * The views are registered once per session and version, because
    * building them re-reads parquet footers, which tripled the apparent
    * cost of every SQL-door query when done per call (round-2 verdict
    * #5: q33 at 6.7 s vs 0.4 s for the identical q17). The version is
    * the data dir and each relation path's (size, mtime): a DataFrame
    * keeps the file listing it was built from, so a file rewritten in
    * place (or a directory whose files were replaced) registers anew.
    * One stat per path costs 0.1–0.2 ms for all ten at sf0.1, where
    * listing every file under them took 23–30 ms a call.
    */
  private def sqlDoor(s: SparkSession, dir: String, query: String): DataFrame = {
    val stamps = (fullDd.relations.keys.toSeq :+ "events").map { r =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$r.parquet")
      scala.util.Try(p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getFileStatus(p)).toOption.map(f => (f.getLen, f.getModificationTime))
    }
    // events joins the catalog through the nanos-aware reader (see
    // pipelineDd scaladoc) — same view name, SQL can't tell. BUILDING
    // the DataFrame reads parquet footers, so it is memoized with the
    // views (round-2 verdict #5: per-call footer IO tripled SQL-door
    // cost)…
    val events = graft.SessionMemo(s, "sql-door", (dir, stamps)) {
      fullDd.register(s, dir, "parquet")
      graft.events(s, dir)
    }
    // …but RE-BINDING the cached plan is IO-free, so do that every call:
    // a caller that dropped or shadowed the session's `events` view
    // would otherwise silently resolve against the wrong view forever.
    events.createOrReplaceTempView("events")
    s.sql(query)
  }

  def q31(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """SELECT o_orderpriority, count(*) AS cnt
       FROM orders WHERE o_totalprice > 100000
       GROUP BY o_orderpriority""")

  def q32(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """SELECT n_name, count(*) AS n_cust, min(c_acctbal) AS min_bal
       FROM customer, nation WHERE c_nationkey = n_nationkey
       GROUP BY n_name""")

  def q33(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
         SELECT o_custkey, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
         FROM orders) t
       WHERE rn = 1""")

  /** TPC-H Q4 shape (order-priority checking): a CORRELATED EXISTS
    * subquery through the SQL-text door — the one Catalyst-breadth claim
    * (SURVEY §4.1) that had no oracle evidence until round 6. The
    * correlation is two-column (equi on l_orderkey = o_orderkey PLUS the
    * outer-referencing range l_shipdate > o_orderdate); Catalyst's
    * RewritePredicateSubquery decorrelates it into ONE left-semi join on
    * the equi key with the range as a residual — no per-row subquery
    * execution exists at any scale (PlanSpec pins the LeftSemi). The
    * synthetic lineitem carries no commit/receipt dates, so the Q4
    * predicate is re-expressed over l_shipdate.
    */
  def q54(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """SELECT o_orderpriority, count(*) AS order_count
       FROM orders
       WHERE o_orderdate >= DATE '1995-01-01'
         AND o_orderdate < DATE '1995-07-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate)
       GROUP BY o_orderpriority""")

  /** Cross-corpus SQL: one query spanning all three pipeline corpora —
    * events (nanos-aware view), documents, embeddings (array column) —
    * through the same text door as the TPC-H queries, proving the
    * registered catalog is the WHOLE catalog (round-6 verdict #3). The
    * synthetic cross-link is `props.$.k` → doc_id (= vec_id): per
    * (document source, event type), event counts, exact-cents value
    * sums, and the max embedding label. Plan shape at scale: JSON
    * extraction pre-shuffle in the fact scan, both dimension tables
    * broadcast, ONE shuffle for the aggregation.
    */
  def q56(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """SELECT d.source, e.event_type,
              count(*) AS n_ev,
              sum(CAST(round(e.value * 100) AS BIGINT)) AS value_cents,
              max(em.label) AS max_label
       FROM events e
       JOIN documents d
         ON CAST(get_json_object(e.props, '$.k') AS BIGINT) = d.doc_id
       JOIN embeddings em ON em.vec_id = d.doc_id
       GROUP BY d.source, e.event_type""")

  /** WITH RECURSIVE through the SQL-text door — Spark 4's recursive CTE
    * (`UnionLoop`/`UnionLoopRef` physical operators, the last major ANSI
    * SQL surface the catalog had no evidence for): the transitive-closure
    * shape (org charts, thread ancestry, link chains) over a DETERMINISTIC
    * forest planted on doc_id (`parent = id div 7`), walked to the root
    * with the hop count, then one aggregate over the closure. Every value
    * is integer arithmetic, so both engines replay it exactly.
    *
    * Scale shape: each recursive step is one codegen'd filter+project
    * over the PREVIOUS step's frontier — no shuffle, no join inside the
    * loop — and the iteration count is log₇(max id), i.e. bounded by the
    * log of the KEY DOMAIN, never by corpus size; total work is
    * ~N·log₇N rows streamed through scans. The one exchange in the whole
    * query is the final depth aggregate. (A recursion whose step joins
    * the frontier back to a corpus-sized edge table would instead pay
    * one shuffle per level — that shape exists in the engine too, but
    * the planted forest keeps the oracle engine-exact and the evidence
    * about the LOOP operator, not join noise.)
    */
  def q119(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """WITH RECURSIVE anc AS (
         SELECT CAST(doc_id AS BIGINT) AS start_id,
                CAST(doc_id AS BIGINT) AS cur,
                CAST(0 AS BIGINT) AS depth
         FROM documents
         UNION ALL
         SELECT start_id, cur DIV 7 AS cur, depth + CAST(1 AS BIGINT) AS depth
         FROM anc WHERE cur >= 7
       )
       SELECT depth, count(*) AS n, sum(start_id) AS start_sum,
              sum(cur) AS node_sum
       FROM anc GROUP BY depth""")

  /** WITH RECURSIVE whose step JOINS a corpus-sized edge TABLE — the
    * shape real users hit (org charts, thread ancestry, link graphs
    * stored as an edge relation), and the one q119's planted-forest
    * walk deliberately avoids: here the parent is NOT computable from
    * the child, it must be LOOKED UP, so every level pays one join
    * against the edge table. The edges are planted deterministically
    * (`child → child div 7` for ids ≥ 7, one row per document) so both
    * engines replay the closure exactly, but the ENGINE cannot know
    * that — it sees an opaque relation.
    *
    * Scale shape: each iteration joins the current frontier (shrinking
    * by ~7× per level) against the edge table. Loop/planner interaction
    * (observed on Spark 4.1, PlanSpec-pinned): `UnionLoopExec` keeps
    * anchor and step as LOGICAL plans — the formatted explain shows a
    * generic `Join` under `UnionLoop`, with `AdaptiveSparkPlan`
    * wrapping only the final aggregate — and executes each level as a
    * fresh `Dataset` with the frontier substituted for `UnionLoopRef`
    * (small frontiers inline as a `LocalRelation` up to
    * `localRelationLimit`). So the join strategy is re-chosen EVERY
    * level with real frontier statistics: this edge table rides under
    * the broadcast threshold (one BHJ per level, frontier never
    * shuffled), while a 100 TB link graph would re-shuffle its edge
    * side per level under SMJ — the reason a production walk
    * pre-buckets edges on `child`. Levels are log₇(id domain); each
    * level also re-scans the edge relation (per-level scan cost is the
    * price of the loop — nothing persists it implicitly).
    */
  def q124(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """WITH RECURSIVE edges AS (
         SELECT CAST(doc_id AS BIGINT) AS child,
                CAST(doc_id AS BIGINT) DIV 7 AS parent
         FROM documents WHERE doc_id >= 7
       ),
       anc AS (
         SELECT CAST(doc_id AS BIGINT) AS start_id,
                CAST(doc_id AS BIGINT) AS cur,
                CAST(0 AS BIGINT) AS depth
         FROM documents
         UNION ALL
         SELECT a.start_id, e.parent AS cur,
                a.depth + CAST(1 AS BIGINT) AS depth
         FROM anc a JOIN edges e ON a.cur = e.child
       )
       SELECT depth, count(*) AS n, sum(start_id) AS start_sum,
              sum(cur) AS node_sum
       FROM anc GROUP BY depth""")

  /** LATERAL through the SQL door — both ANSI surfaces users reach for
    * on array/text columns, in one gated query: a HiveQL table-valued
    * generator (`LATERAL VIEW posexplode`, the SQL spelling of the
    * DataFrame explode the pipeline queries use everywhere) and an ANSI
    * correlated `JOIN LATERAL` subquery with ORDER BY + LIMIT (top-3
    * terms per source — the per-row-top-k shape that motivates LATERAL
    * in every engine). Spark decorrelates the LIMIT-ed lateral into a
    * window rank under the hood — no per-row re-execution, one
    * aggregate + one rank over the (source, term) relation; the
    * generator is a codegen'd `Generate` on the scan side of the one
    * token shuffle. The oracle replays the unnest with an index-range
    * ordinality and the lateral as DuckDB's own comma-LATERAL.
    */
  def q125(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """WITH toks AS (
         SELECT d.doc_id, d.source, t.pos, t.term
         FROM documents d
         LATERAL VIEW posexplode(split(d.text, ' ')) t AS pos, term
       ),
       src AS (
         SELECT source, count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_toks, sum(pos) AS pos_sum
         FROM toks GROUP BY source
       )
       SELECT s.source, s.n_docs, s.n_toks, s.pos_sum,
              x.term AS top_term, x.n AS top_n
       FROM src s
       JOIN LATERAL (
         SELECT t.term, count(*) AS n
         FROM toks t WHERE t.source = s.source
         GROUP BY t.term
         ORDER BY n DESC, t.term
         LIMIT 3
       ) x""")

  /** Sessionization (gaps-and-islands): a session ends after 30 idle
    * minutes. lag + running sum over a per-user window — one shuffle on
    * user_id; state per row is O(1). Gap math on exact integer micros.
    */
  def q34(s: SparkSession, dir: String): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    events(s, dir)
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("is_new",
        when(col("ts_us") - lag(col("ts_us"), 1).over(perUser)
          > 1800000000L, 1)
          .when(lag(col("ts_us"), 1).over(perUser).isNull, 1)
          .otherwise(0))
      .withColumn("sess", sum(col("is_new")).over(
        perUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"))
      .agg(countDistinct(col("sess")).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  /** Trailing event-time RANGE-frame window — the user-activity feature
    * pass ("events and spend in the hour BEFORE each event"), the one
    * window shape q17/q33 (row frames, ranks) don't exercise: the frame
    * is VALUE-bounded on exact event-time microseconds (`ts_ns div
    * 1000`, the q34 idiom — a seconds-grain cast would silently move
    * sub-second events across the boundary), so peers with equal
    * timestamps are all in-frame in any engine by RANGE semantics, no
    * tie-break needed. One shuffle on user_id; Spark plans a
    * sliding-frame WindowExec that advances both frame ends
    * monotonically per partition — O(rows) work, state bounded by the
    * frame's row count. Exact integer cents keep the windowed sum
    * hash-stable at any parallelism (the q20 contract).
    */
  def q101(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0)
    events(s, dir)
      .select(col("event_id"), col("user_id"),
        expr("ts_ns div 1000").as("ts_us"), cents(col("value")).as("__vc"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("__vc")).over(w).as("sum_1h_c"))
  }

  /** PIVOT — the cohort × event-type count matrix, the classic
    * wide-report reshape: one aggregation shuffle on the cohort key with
    * the five conditional counts partial-combined map-side (Spark's
    * pivot-first aggregate — no per-column pass, no second shuffle).
    * The pivot VALUES are explicit: Spark would otherwise run an eager
    * distinct scan to discover them, and the column ORDER would depend
    * on data. Absent combinations pivot to NULL in Spark but 0 under a
    * conditional count — the coalesce pins the engine-portable choice
    * (a count of an empty set is 0).
    */
  def q105(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = events(s, dir)
      .groupBy((col("user_id") % 10).as("cohort"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    p.select(col("cohort") +: types.map(t =>
      coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** Explicit GROUPING SETS + grouping_id — the general form q14
    * (ROLLUP) and q42 (CUBE) are shorthands of: per-source totals,
    * per-lang totals and the grand total in ONE pass, with the bit-vector
    * grouping id disambiguating which set a row belongs to (source is
    * the high bit, matching DuckDB's GROUPING(source, lang)). Plans as a
    * 3-way Expand feeding one partial-combined aggregate — rows × |sets|
    * through one shuffle, never three scans.
    */
  def q106(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .groupingSets(Seq(Seq(col("source")), Seq(col("lang")), Seq()),
        col("source"), col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        grouping_id().as("gid"))

  /** Time-series gap-fill (forward-fill interpolation) — the resample
    * shape as-of joins and range windows don't cover: per event type,
    * the DENSE hourly revenue series over the type's own [min, max] hour
    * range, missing hours carried forward from the last observed value
    * (`last(..., ignoreNulls)` over an unbounded-preceding row frame;
    * the spine starts at an observed hour, so the fill is total).
    * Hours are exact epoch-microsecond integer division (the q34/q101
    * idiom) and revenue is exact integer cents.
    *
    * Scale shape: the hourly aggregate is the only event-sized shuffle;
    * the spine is types × hour-range rows (generated, not scanned), the
    * spine⋈hourly join and the per-type fill window both run over that
    * bounded series. 226 real gap hours at sf0.01 — the operator does
    * real filling, not a no-op.
    */
  def q107(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .select(col("event_type"),
        expr("(ts_ns div 1000) div 3600000000").as("hr"),
        cents(col("value")).as("__c"))
      .groupBy(col("event_type"), col("hr"))
      .agg(sum(col("__c")).as("rev"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("hr"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(hourly, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        col("rev").isNull.as("was_gap"),
        last(col("rev"), ignoreNulls = true).over(w).as("rev_filled"))
  }

  /** UNPIVOT (melt) — the inverse reshaping of q105's PIVOT: a wide
    * per-source feature row (doc-length-bucket counts) melted back to
    * long `(source, bucket, n_docs)` form, the shape a tall metrics
    * store or a generic plotting/joining consumer wants. Spark's native
    * `Dataset.unpivot` plans as one Expand over the ALREADY-AGGREGATED
    * frame — the wide aggregate is the only corpus pass, the melt
    * itself touches G rows and emits G × |buckets|; melting before
    * aggregating would put the Expand under the shuffle and triple the
    * exchanged rows. The oracle replays the buckets and the melt as
    * UNION ALL selects (engine-neutral UNPIVOT semantics: value columns
    * become (name, value) pairs, id columns repeat).
    */
  def q112(s: SparkSession, dir: String): DataFrame = {
    val wide = t(s, dir)("documents").groupBy(col("source")).agg(
      sum(when(col("n_chars") < 250, 1L).otherwise(0L)).as("short_docs"),
      sum(when(col("n_chars") >= 250 && col("n_chars") < 400, 1L)
        .otherwise(0L)).as("medium_docs"),
      sum(when(col("n_chars") >= 400, 1L).otherwise(0L)).as("long_docs"))
    wide.unpivot(Array(col("source")),
      Array(col("short_docs"), col("medium_docs"), col("long_docs")),
      "bucket", "n_docs")
  }

  /** Semi/anti joins — the "does a match exist" shapes. Both plan as
    * hash joins carrying ONLY the probe side's columns (no fan-out, no
    * wide rows through the shuffle): nations with at least one
    * high-balance customer, minus nations that have any negative-balance
    * customer.
    */
  def q35(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir)("nation")
    val c = t(s, dir)("customer")
    n.join(c.filter(col("c_acctbal") > 7000),
        col("n_nationkey") === col("c_nationkey"), "left_semi")
      .join(c.filter(col("c_acctbal") < -900),
        col("n_nationkey") === col("c_nationkey"), "left_anti")
      .select(col("n_nationkey"), col("n_name"))
  }

  /** Outer join with null-handling aggregates: every nation's customer
    * count including empty nations (the rows inner joins drop).
    */
  def q36(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("nation")
      .join(t(s, dir)("customer"),
        col("n_nationkey") === col("c_nationkey"), "left_outer")
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(count(col("c_custkey")).as("n_cust"),
        coalesce(min(col("c_acctbal")), lit(0.0)).as("min_bal"))

  /** Approx sketches, gated honestly: HLL distinct counts and quantile
    * sketches can't equal an exact oracle, so the query EMITS ITS OWN
    * error check — a reference value + a within-tolerance boolean — and
    * the oracle asserts the boolean. The HLL runs at 1% relative standard
    * deviation with a 5% assertion (a 5-sigma margin; the DEFAULT rsd is
    * 5%, which this gate measurably exceeds). The quantile gate compares
    * percentile_approx at accuracy 10³ against accuracy 10⁵ (rank error
    * 10⁻³ vs 10⁻⁵ — two orders tighter, an honest reference): the exact
    * `percentile` this replaces collected EVERY value into ONE
    * single-task aggregation buffer (round-2 verdict #2 — a single-reducer
    * memory spike at 100×), while both sketches keep bounded,
    * partial-aggregated state at any table size.
    */
  def q37(s: SparkSession, dir: String): DataFrame = {
    // THREE single-row aggregations cross-joined, NOT one agg with all
    // the pieces: a distinct aggregate forces the expand/multi-phase
    // rewrite onto every aggregate sharing its Aggregate node, which is
    // pathological for buffer-based ones — measured 8-12 s for
    // distinct+percentile in round 2, and the r7 sf1 probe caught
    // distinct+HLL the same way (0.6 s + 1.1 s separately, 20 s
    // combined at 1.5M rows). Separate single-row aggs are immune at
    // any scale; the cross joins are 1-row × 1-row.
    val exact = t(s, dir)("orders").agg(
      countDistinct(col("o_custkey")).as("exact_cust"))
    val approx = t(s, dir)("orders").agg(
      approx_count_distinct(col("o_custkey"), 0.01).as("approx_cust"))
    val counts = exact.crossJoin(approx)
    val meds = t(s, dir)("orders").agg(
      expr("percentile_approx(o_totalprice, 0.5, 1000)").as("approx_med"),
      expr("percentile_approx(o_totalprice, 0.5, 100000)").as("ref_med"))
    counts.crossJoin(meds)
      .select(
        col("exact_cust"),
        (abs(col("approx_cust") - col("exact_cust")).cast("double") /
          col("exact_cust") < 0.05).as("cust_within_5pct"),
        (abs(col("approx_med") - col("ref_med")) / col("ref_med") < 0.1)
          .as("med_within_10pct"))
  }

  /** Statistical aggregates: correlation / covariance / stddev across
    * price-quantity pairs. Single-pass co-moment aggregation — partial
    * merge is associative, so one shuffle of O(groups) moment tuples.
    */
  def q40(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        corr(col("l_quantity"), col("l_extendedprice")).as("qty_price_corr"),
        covar_samp(col("l_quantity"), col("l_discount")).as("qty_disc_cov"),
        stddev_samp(col("l_extendedprice")).as("price_sd"))

  /** Semi-structured JSON: extract a field from the events `props` JSON
    * column, group on it. JSON parsing happens once per row in the scan
    * stage, pre-shuffle.
    */
  def q41(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("k").cast("long")).as("sum_k"),
        max(col("k")).as("max_k"))

  /** CUBE grouping sets (rollup's big sibling — q14 covers ROLLUP). */
  def q42(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"))

  /** As-of join: each click annotated with the user's most recent signup
    * at or before it ([[graft.ops.AsOf.asofJoin]] — single key-shuffle
    * union-window plan, no per-key fan-out). Times as exact integer
    * micros so both engines compare identical longs.
    */
  def q43(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click").drop("event_type")
    val signups = ev.filter(col("event_type") === "signup").drop("event_type")
    graft.ops.AsOf.asofJoin(clicks, signups, "user_id", "ts_us")
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_id_r").as("signup_id"))
  }

  /** Range join: lineitem prices bucketed into literal bands via a
    * broadcast range join, then counted per band.
    */
  def q44(s: SparkSession, dir: String): DataFrame = {
    val bands = s.createDataFrame(Seq(
      ("low", 0.0, 24999.99),
      ("mid", 25000.0, 49999.99),
      ("high", 50000.0, 999999.0))).toDF("band", "lo", "hi")
    graft.ops.AsOf.rangeJoin(t(s, dir)("lineitem"), bands,
        "l_extendedprice", "lo", "hi")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("cnt"),
        sum(cents(col("l_extendedprice"))).as("sum_price_c"))
  }

  /** TPC-H Q3 shape (shipping priority): 3-way join, filtered both sides,
    * grouped revenue in exact cents, top-10 by revenue. Dimension filters
    * push to the scans; the joins shuffle on their keys; top-k is
    * TakeOrderedAndProject.
    */
  def q52(s: SparkSession, dir: String): DataFrame = {
    val T = t(s, dir) _
    T("customer").filter(col("c_mktsegment") === "BUILDING")
      .join(T("orders"), col("c_custkey") === col("o_custkey"))
      .join(T("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_c"))
      .orderBy(col("revenue_c").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5 shape (local-supplier volume): 5-way join through the full
    * star (customer/orders/lineitem/supplier/nation), same-nation
    * constraint, revenue per nation. nation broadcasts; the fact chain
    * shuffles once per join key.
    */
  def q53(s: SparkSession, dir: String): DataFrame = {
    val T = t(s, dir) _
    T("customer")
      .join(T("orders"), col("c_custkey") === col("o_custkey"))
      .join(T("lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(T("supplier"), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(T("nation")), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("revenue_c"),
        count(lit(1)).as("n_items"))
  }

  /** Rolling 7-day distinct actives (DAU / WAU / stickiness) — the
    * sliding-window generalization of q130's cohort counting, and the
    * one daily dashboard every events pipeline serves. Windowed
    * COUNT(DISTINCT) has no direct window-function form in any engine;
    * the scalable shape is coverage explosion: dedup to (user, day)
    * FIRST (one shuffle, corpus → user-day grain), explode each
    * user-day to the 7 future report days it covers (a FIXED ×7 — the
    * window length, never the corpus), then one distinct-count
    * aggregate per report day. Days are exact epoch-day integers (the
    * q130 posture); report days are restricted to days that actually
    * occur, so the tail past the last event day never fabricates
    * cells. Cost: 2 key shuffles + the two-stage distinct — at 100 TB
    * the ×7 coverage relation is user-day-grain, orders of magnitude
    * below event grain.
    */
  def q171(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir).select(col("user_id"),
      expr("ts_ns div 1000 div 86400000000").as("d")).distinct()
    val days = ud.select(col("d")).distinct()
    val dau = ud.groupBy(col("d")).agg(countDistinct(col("user_id")).as("dau"))
    val wau = ud.select(col("user_id"),
        explode(sequence(col("d"), col("d") + 6)).as("rd"))
      .join(days.withColumnRenamed("d", "rd"), Seq("rd"))
      .groupBy(col("rd"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, dau("d") === wau("rd"))
      .select(col("d").as("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 4)
          .as("stickiness"))
  }

  /** Exponentially-weighted engagement score per user, exact dyadic
    * arithmetic — the freshness/decay weighting a pipeline applies to
    * user signals, posed so it hash-gates: α = 1/2 over each user's
    * `K = min(n, 16)` most recent events (ordered by time, event_id
    * tie-break). The classic EWMA recursion `s ← x/2 + s/2` with
    * `s₁ = x₁` gives the oldest in-window event weight `(1/2)^(K-1)` —
    * so `s · 2^(K-1)` is an INTEGER dot product of cents against
    * power-of-two weights: `num = x₁ + Σ_{i≥2} 2^(i-2)·xᵢ` (oldest →
    * newest). Emitting the exact `(num, shift)` pair plus the 4dp
    * decimal keeps every row bit-stable at any parallelism — a naive
    * double EWMA would hash-drift on summation order. The 16-event
    * truncation bounds both the weight magnitude (2^14 · cents ≪ 2^63)
    * and the scan: one per-user window (rank + filter), one aggregate.
    */
  def q172(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    val wAll = Window.partitionBy(col("user_id"))
    events(s, dir)
      .select(col("user_id"), col("event_id"), col("ts_ns"),
        cents(col("value")).as("c"))
      .withColumn("rn", row_number().over(w))
      .withColumn("k", least(count(lit(1)).over(wAll), lit(16L)))
      .filter(col("rn") <= col("k"))
      // rn = 1 is the NEWEST event: weight 2^(k-1-rn) for rn < k, and
      // the oldest in-window event (rn = k) shares 2^0 — weights sum
      // to exactly 2^(k-1), the EWMA denominator
      .withColumn("coef", when(col("rn") === col("k"), lit(1L))
        .otherwise(expr("shiftleft(1L, cast(k - 1 - rn as int))")))
      .groupBy(col("user_id"))
      .agg(max(col("k")).as("k"),
        sum(col("c") * col("coef")).as("ewma_num"))
      .select(col("user_id"), col("k").as("n_used"),
        col("ewma_num"), (col("k") - 1L).as("ewma_shift"),
        round(col("ewma_num").cast("double") /
          pow(lit(2.0), (col("k") - 1L).cast("double")), 4).as("ewma"))
  }

  /** Robust (median/MAD) outlier screen per event type — the
    * anomaly-detection companion to q170's exact percentiles: mean/σ
    * z-scores are themselves dragged by the outliers they hunt, so the
    * robust form uses the median and the Median Absolute Deviation,
    * both EXACT order statistics kept in scaled-integer space so the
    * result hashes: `med2 = lo + hi` (the two middle cents order
    * stats; = 2·median for both parities), `d2 = |2·x − med2|`
    * (= 2·deviation, integer), `m2d = lo + hi` over d2 (= 4·MAD), and
    * the flag `dev > 3·MAD` cross-multiplies to `2·d2 > 3·m2d` — no
    * division anywhere. Cost: three corpus passes (value ranks →
    * deviation ranks → the flag count), which is the honest floor for
    * EXACT MAD — the deviations don't exist until the median does, and
    * the flag needs the deviations' median; each pass shuffles on
    * event_type once, the per-type medians travel by broadcast. The
    * value at a rank is deterministic under duplicate values
    * regardless of tie order.
    */
  def q173(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      col("event_id"), cents(col("value")).as("c"))
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("c"), col("event_id"))
    val wAll = Window.partitionBy(col("event_type"))
    val ranked = e.withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
    val med = ranked.groupBy(col("event_type")).agg(
      max(col("n")).as("n"),
      sum(when(col("rn") === expr("(n + 1) div 2"), col("c"))
        .otherwise(lit(0L)) +
        when(col("rn") === expr("n div 2 + 1"), col("c"))
          .otherwise(lit(0L))).as("med2"))
    val dev = e.join(broadcast(med), Seq("event_type"))
      .withColumn("d2", abs(col("c") * 2L - col("med2")))
    val wD = Window.partitionBy(col("event_type"))
      .orderBy(col("d2"), col("event_id"))
    val mad = dev.withColumn("rn", row_number().over(wD))
      .groupBy(col("event_type")).agg(
        sum(when(col("rn") === expr("(n + 1) div 2"), col("d2"))
          .otherwise(lit(0L)) +
          when(col("rn") === expr("n div 2 + 1"), col("d2"))
            .otherwise(lit(0L))).as("m2d"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("med2")).as("med2"),
        max(col("m2d")).as("m2d"),
        count(when(col("d2") * 2L > col("m2d") * 3L, 1)).as("n_outliers"),
        max(col("d2")).as("max_d2"))
  }

  /** Hour-of-week seasonality profile — the load-shape audit behind
    * capacity planning and anomaly baselining: per (event type, hour
    * of week) the event count, its deviation from the uniform
    * expectation, and a peak flag, ALL in cross-multiplied integers
    * (`dev168 = 168·n − T`, peak ⟺ `168·n > 2·T`) so nothing ever
    * divides. Hour-of-week = `epoch_hours mod 168` on the shared
    * microsecond clock (hour 0 = Thursday 00:00 UTC, the epoch anchor
    * — an integer convention both engines share for free, where
    * calendar `dayofweek` conventions differ). One corpus aggregate to
    * the ≤ types×168 cell grid, then a cells-grain rollup join.
    */
  def q178(s: SparkSession, dir: String): DataFrame = {
    val cells = events(s, dir)
      .select(col("event_type"),
        expr("(ts_ns div 1000 div 3600000000) % 168").as("how"))
      .groupBy(col("event_type"), col("how"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.groupBy(col("event_type"))
      .agg(sum(col("n")).as("t"))
    cells.join(broadcast(tot), Seq("event_type"))
      .select(col("event_type"), col("how"), col("n"),
        (col("n") * 168L - col("t")).as("dev168"),
        (col("n") * 168L > col("t") * 2L).as("is_peak"))
  }

  /** Autocorrelation function of the daily event-count series at lags
    * 1–7 — the time-series diagnostic that tells a pipeline whether its
    * traffic has day-over-day memory and weekly periodicity (a lag-7
    * spike = weekly seasonality, confirming q178's hour-of-week read
    * from a different angle) before anyone fits a forecast on it.
    * Engine-exact by the q180 scaling trick: with `n` days and
    * `S = Σx`, the n²-scaled deviations `d_t = n·x_t − S` are pure
    * integers, `acf(l) = Σ_{t≥l} d_t·d_{t−l} / Σ_t d_t²` needs no
    * float until the 10⁴-scaled report, and `10000·num div den`
    * truncates toward zero identically in Spark and DuckDB (negative
    * numerators are fine — the q226 pin). The day spine is ZERO-FILLED
    * from min to max day (a silent gap would misalign every lag after
    * it); day numbers are `unix_micros(date_trunc(day)) div 86400e6`,
    * no calendar arithmetic. Scale shape: one day-grain aggregate from
    * the corpus, then everything is days-sized (the lag join explodes
    * 7× at day grain); the three scalar relations (bounds, S, den)
    * broadcast. Exactness (the q293 widening): each deviation
    * `d_t = n·x_t − S` stays int64 (|d_t| ≤ n·x_max < 2⁶³ — generous
    * to 10⁴ days × 9·10¹⁴ events/day), but the lag products and their
    * sums run in DECIMAL(38,0) — the old all-int64 posture needed
    * Σd² < 2⁶³ and a single year of 10⁸-events/day traffic blew it
    * (d² ~ 10²⁴ PER TERM, a loud job-killing throw under the
    * session's ANSI default) while DuckDB widened to HUGEINT and
    * kept going. `10000·num div den` truncates the exact decimals toward
    * zero into the declared BIGINT identically in both engines
    * (negative numerators are fine — the q226 pin; the quotient is
    * ≤ 10⁴ by Cauchy–Schwarz, never overflow). ScaleSpec plants a
    * series past 2⁶³ and pins the exact replay.
    */
  def q242(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(expr("unix_micros(date_trunc('DAY', ts)) div 86400000000")
        .as("dnum"))
      .groupBy("dnum").agg(count(lit(1)).as("n"))
    val b = daily.agg(min(col("dnum")).as("d0"),
      (max(col("dnum")) - min(col("dnum"))).as("span"))
    val spine = b.select(explode(sequence(lit(0L), col("span"))).as("t"))
    val indexed = daily.crossJoin(broadcast(b))
      .select((col("dnum") - col("d0")).as("t"), col("n"))
    val x = spine.join(indexed, Seq("t"), "left")
      .select(col("t"), coalesce(col("n"), lit(0L)).as("x"))
    val st = x.agg(count(lit(1)).as("nn"), sum(col("x")).as("sx"))
    val dev = x.crossJoin(broadcast(st))
      .select(col("t"), (col("nn") * col("x") - col("sx")).as("d"),
        col("nn"))
    val den = dev.agg(sum(dec(col("d")) * dec(col("d"))).as("den"))
    val cur = dev.select(explode(sequence(lit(1L), lit(7L))).as("lag"),
      col("t"), col("d"), col("nn"))
    val prev = dev.select(col("t").as("pt"), col("d").as("pd"))
    cur.join(prev, cur("t") - cur("lag") === prev("pt"))
      .groupBy(col("lag"), col("nn"))
      .agg(sum(dec(col("d")) * dec(col("pd"))).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("nn").as("n_days"),
        expr("10000 * num div den").as("acf_bp"))
  }

  /** Chi-square goodness-of-fit against hour-of-week uniformity — the
    * TEST that turns q178's per-cell deviations into one per-type
    * verdict, kept engine-exact by scaling instead of dividing: with
    * `E = T/168`, `χ² = Σ(O−E)²/E = [Σ(168·O − T)²] / (168·T)` — the
    * numerator is a pure integer sum over OBSERVED cells plus `T²` for
    * each of the `168 − m` never-observed hours (zero cells are real
    * evidence; dropping them biases the test toward uniformity), the
    * denominator an integer product, and only the final 4dp report
    * divides. df = 167 always. Magnitudes: each deviation `168·O − T`
    * is int64 through T ≈ 5·10¹⁶ events per type, but the SQUARED sum
    * (≤ 168·(168·T)²) blew int64 at T ≈ 10⁷ — any real type does, and
    * under the session's ANSI default the overflow THREW, killing the
    * job — so the squares and the `T²` zero-cell term run in
    * DECIMAL(38,0) (the q293 widening; exact to 10³⁸ ⇒ T ≲ 4·10¹⁶,
    * and DuckDB's HUGEINT agrees all the way). `chi2` divides from the
    * exact decimals; the integer witness columns TRY_CAST back to
    * their declared BIGINT and NULL past 2⁶³ while the report stays
    * correct (ScaleSpec plants T = 2.2·10⁷ past the old envelope and
    * pins the replay).
    * Same two aggregates as q178.
    */
  def q180(s: SparkSession, dir: String): DataFrame = {
    val cells = events(s, dir)
      .select(col("event_type"),
        expr("(ts_ns div 1000 div 3600000000) % 168").as("how"))
      .groupBy(col("event_type"), col("how"))
      .agg(count(lit(1)).as("n"))
    val tot = cells.groupBy(col("event_type"))
      .agg(sum(col("n")).as("t"))
    val d = col("n") * 168L - col("t") // int64 to T ≈ 5·10¹⁶/type
    cells.join(broadcast(tot), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(max(col("t")).as("t"), count(lit(1)).as("n_cells"),
        sum(dec(d) * dec(d)).as("__s2"))
      .withColumn("__num", col("__s2") +
        dec(lit(168L) - col("n_cells")) * dec(col("t")) * dec(col("t")))
      .select(col("event_type"), col("t"), col("n_cells"),
        // try_cast: the witness NULLs past its declared BIGINT (a
        // plain decimal→long cast THROWS under the session's ANSI
        // default) while the chi2 report stays exact from the decimal
        expr("try_cast(__num as bigint)").as("chi2_num"),
        (col("t") * 168L).as("chi2_den"),
        round(col("__num").cast("double") /
          (col("t") * 168L).cast("double"), 4).as("chi2"))
  }

  /** Session path analysis — the navigation report on top of q34's
    * gap-sessionization (same 30-minute rule, same (ts, event_id)
    * ordering): each session's first THREE event types joined into a
    * path string, counted per path. The path build is deterministic end
    * to end — rank inside the session window, `array_sort` on (rn,
    * type) structs before the join (collect_list alone has no order
    * contract), so the same sessions give the same strings at any
    * parallelism. Costs the q34 user window + one session-keyed
    * aggregate + the path-grain count; paths are ≤ |types|³ + |types|²
    * + |types| distinct.
    */
  def q185(s: SparkSession, dir: String): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val sess = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("is_new",
        when(col("ts_us") - lag(col("ts_us"), 1).over(perUser)
          > 1800000000L, 1)
          .when(lag(col("ts_us"), 1).over(perUser).isNull, 1)
          .otherwise(0))
      .withColumn("sess", sum(col("is_new")).over(
        perUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy(col("user_id"), col("sess"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    sess.withColumn("rn", row_number().over(wSess))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"), col("sess"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
  }

  /** Daily-count correlation matrix between event types — "do errors
    * co-move with purchases?": each type's day×count vector over the
    * FULL day grid (missing days are REAL zeros — left-joining the
    * grid, not the sparse counts, is what makes the correlation
    * honest), Pearson r per unordered type pair computed from five
    * int64 sums (Σx, Σy, Σxy, Σx², Σy² — exact at any parallelism) with
    * ONE double expression at the end, 4dp; zero-variance series emit
    * NULL, never a division error. The grid is days×types cells — tiny
    * at any corpus scale; the corpus is touched once for the counts.
    */
  def q186(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      expr("ts_ns div 1000 div 86400000000").as("d"))
    val counts = e.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"))
    val days = e.select(col("d")).distinct()
    val types = e.select(col("event_type")).distinct()
    val grid = days.crossJoin(types)
      .join(counts, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("n"), lit(0L)).as("n"))
    val a = grid.select(col("d"), col("event_type").as("type_a"),
      col("n").as("x"))
    val b = grid.select(col("d"), col("event_type").as("type_b"),
      col("n").as("y"))
    val sums = a.join(b, Seq("d")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
    // r16 scale fix (caught by the sf1 probe, ARITHMETIC_OVERFLOW),
    // completed by the r20 widening: the product sums and the bilinear
    // variance terms run exact in DECIMAL(38,0) (the old int64 sums
    // themselves threw at ~10^4 days x 10^8 events/day under the
    // session's ANSI default); the two variance terms still multiply
    // as DOUBLES — their product can pass 10^38, and DuckDB casting
    // its exact HUGEINT product to double equals one IEEE multiply of
    // two exactly-represented terms, the documented < 2^53 bound,
    // which the 4dp report tolerates beyond.
    sums.select(col("type_a"), col("type_b"), col("n_days"),
      round((dec(col("n_days")) * col("sxy") -
        dec(col("sx")) * dec(col("sy"))).cast("double") /
        sqrt((dec(col("n_days")) * col("sxx") -
          dec(col("sx")) * dec(col("sx"))).cast("double") *
          (dec(col("n_days")) * col("syy") -
            dec(col("sy")) * dec(col("sy"))).cast("double")), 4)
        .as("r"))
  }

  /** Bag-semantics set operations through the SQL door — q18 covers the
    * DISTINCT set ops; INTERSECT ALL / EXCEPT ALL are the multiset
    * forms (copies matter: a supplier shipping 3 cheap + 2 discounted
    * lots intersects twice), and both engines implement ANSI bag
    * semantics, so the IDENTICAL query text is the oracle. Rolled up to
    * (op, key, n) so the hash pins every multiplicity.
    */
  def q187(s: SparkSession, dir: String): DataFrame =
    sqlDoor(s, dir, BagSetOpsSql)

  private val BagSetOpsSql: String =
    """WITH a AS (SELECT l_suppkey AS v FROM lineitem
         WHERE l_quantity < 10),
       b AS (SELECT l_suppkey AS v FROM lineitem
         WHERE l_discount > 0.05),
       i AS (SELECT 'intersect_all' AS op, v
         FROM (SELECT v FROM a INTERSECT ALL SELECT v FROM b)),
       e AS (SELECT 'except_all' AS op, v
         FROM (SELECT v FROM a EXCEPT ALL SELECT v FROM b))
     SELECT op, v, CAST(count(*) AS BIGINT) AS n
     FROM (SELECT * FROM i UNION ALL SELECT * FROM e)
     GROUP BY op, v"""

  /** Pareto / ABC classification of suppliers by revenue — the
    * concentration report behind every "top vendors drive 80%"
    * statement: revenue cents per supplier, cumulative share in
    * descending-revenue order (supplier asc breaks revenue ties), class
    * A while cum ≤ 80% of total, B to 95%, else C — thresholds
    * CROSS-MULTIPLIED (`cum·5 ≤ total·4`, `cum·20 ≤ total·19`), so the
    * class is a pure integer function. One corpus aggregate to supplier
    * grain, then windows over the supplier-cardinality relation (the
    * global cum window never sees the corpus).
    */
  def q192(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir)("lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("rev_c"))
    val wCum = Window.orderBy(col("rev_c").desc, col("l_suppkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    rev.withColumn("cum_c", sum(col("rev_c")).over(wCum))
      .withColumn("total_c", sum(col("rev_c")).over(wAll))
      .select(col("l_suppkey"), col("rev_c"), col("cum_c"),
        when(col("cum_c") * 5L <= col("total_c") * 4L, "A")
          .when(col("cum_c") * 20L <= col("total_c") * 19L, "B")
          .otherwise("C").as("abc_class"))
  }

  /** Cross-table reconciliation audit — does the order header's total
    * agree with its lines? The warehouse-integrity check run after
    * every load: per order status, order count, headers disagreeing
    * with the exact-cents line sum (orders with NO lines reconcile
    * against 0 — absence is a statement, not a skip), the summed and
    * maximum absolute deviation. All integer cents; one line-side
    * aggregate + one header join. The synthetic fixture disagrees
    * everywhere — the audit's job is to SAY so, pinned by hash.
    */
  def q193(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir)("lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("li_c"))
    t(s, dir)("orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        cents(col("o_totalprice")).as("o_c"))
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderstatus"),
        (col("o_c") - coalesce(col("li_c"), lit(0L))).as("dev"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        count(when(col("dev") =!= 0L, 1)).as("n_mismatched"),
        sum(abs(col("dev"))).as("sum_abs_dev_c"),
        max(abs(col("dev"))).as("max_abs_dev_c"))
  }

  /** Daily-count anomaly screen — q173's robust median/MAD machinery
    * applied at DAY grain: per event type, the exact scaled-integer
    * median (med2) and MAD (m2d) of its daily counts over the full day
    * grid (missing days are real zeros, the q186 rule), then every
    * day flagged where `|count − median| > 3·MAD`, cross-multiplied to
    * `2·d2 > 3·m2d`. The output is day-grain (type, day, n, d2,
    * is_anomaly) so the hash pins every day's verdict; all windows run
    * over the days×types grid, corpus touched once for the counts.
    */
  def q196(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      expr("ts_ns div 1000 div 86400000000").as("d"))
    val counts = e.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"))
    val grid = e.select(col("d")).distinct()
      .crossJoin(e.select(col("event_type")).distinct())
      .join(counts, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("n"), lit(0L)).as("n"))
    val wOrd = Window.partitionBy(col("event_type"))
      .orderBy(col("n").asc, col("d").asc)
    val wAll = Window.partitionBy(col("event_type"))
    val ranked = grid.withColumn("rn", row_number().over(wOrd))
      .withColumn("m", count(lit(1)).over(wAll))
    val med = ranked.groupBy(col("event_type")).agg(
      sum(when(col("rn") === expr("(m + 1) div 2"), col("n"))
        .otherwise(lit(0L)) +
        when(col("rn") === expr("m div 2 + 1"), col("n"))
          .otherwise(lit(0L))).as("med2"))
    val dev = grid.join(broadcast(med), Seq("event_type"))
      .withColumn("d2", abs(col("n") * 2L - col("med2")))
    val wD = Window.partitionBy(col("event_type"))
      .orderBy(col("d2").asc, col("d").asc)
    val wM = Window.partitionBy(col("event_type"))
    val mad = dev.withColumn("rn", row_number().over(wD))
      .withColumn("m", count(lit(1)).over(wM))
      .groupBy(col("event_type")).agg(
        sum(when(col("rn") === expr("(m + 1) div 2"), col("d2"))
          .otherwise(lit(0L)) +
          when(col("rn") === expr("m div 2 + 1"), col("d2"))
            .otherwise(lit(0L))).as("m2d"))
    dev.join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("d").as("day"), col("n"),
        col("d2"), (col("d2") * 2L > col("m2d") * 3L).as("is_anomaly"))
  }

  /** Cumulative-distinct growth curve — "total distinct users to date"
    * per day, the audience-growth line every dashboard draws. The
    * scalable shape: distinct users collapse to their FIRST-ACTIVE day
    * (one user-keyed aggregate — the q130 cohort relation), new-user
    * counts per first day, then ONE running sum over the day-grain
    * relation joined to the observed-day grid (days with no new users
    * still report the running total). The corpus enters one shuffle;
    * the cumulative window never sees it.
    */
  def q197(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"),
      expr("ts_ns div 1000 div 86400000000").as("d"))
    val firstDay = e.groupBy(col("user_id")).agg(min(col("d")).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("new_users"))
    val days = e.select(col("d")).distinct()
    val wCum = Window.orderBy(col("d").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    days.join(firstDay, col("d") === col("fd"), "left")
      .select(col("d"), coalesce(col("new_users"), lit(0L))
        .as("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(wCum))
      .select(col("d").as("day"), col("new_users"), col("cum_users"))
  }

  /** Session-basket association (support / confidence / lift) between
    * event types — market-basket analysis with q34's gap sessions as
    * baskets: for every ordered type pair (a ≠ b), sessions containing
    * both / either, confidence = P(b ∈ s | a ∈ s) and lift =
    * P(a,b) / (P(a)·P(b)), each a 4dp division of exact int64 counts
    * (`lift = n_ab·n_sessions / (n_a·n_b)` computed as ONE double
    * expression from integers — no chained rounding). Baskets dedup to
    * (session, type) first, so pair counts are session-grain; the pair
    * join is per-session |types|² ≤ 25, never corpus².
    */
  def q198(s: SparkSession, dir: String): DataFrame = {
    val perUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val sess = events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("is_new",
        when(col("ts_us") - lag(col("ts_us"), 1).over(perUser)
          > 1800000000L, 1)
          .when(lag(col("ts_us"), 1).over(perUser).isNull, 1)
          .otherwise(0))
      .withColumn("sess", sum(col("is_new")).over(
        perUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("user_id"), col("sess"), col("event_type")).distinct()
    val tot = sess.select(col("user_id"), col("sess")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val typeN = sess.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_t"))
    val a = sess.select(col("user_id"), col("sess"),
      col("event_type").as("type_a"))
    val b = sess.select(col("user_id"), col("sess"),
      col("event_type").as("type_b"))
    a.join(b, Seq("user_id", "sess"))
      .filter(col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_ab"))
      .join(broadcast(typeN.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), Seq("type_a"))
      .join(broadcast(typeN.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(tot))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 4)
          .as("confidence"),
        // lift products in DECIMAL (the q293 widening): n_ab·n_sessions
        // is ~10^20 at 10^10 sessions — an ANSI job-killing throw in
        // the old long spelling; decimal→double rounds like DuckDB's
        // HUGEINT→double, so the 4dp report is engine-identical
        round((dec(col("n_ab")) * dec(col("n_sessions"))).cast("double") /
          (dec(col("n_a")) * dec(col("n_b"))).cast("double"), 4)
          .as("lift"))
  }

  /** 2-D skyline (Pareto frontier) — the parts no other part beats on
    * BOTH price (minimize, exact cents) and size (maximize): p is
    * dominated iff some q has (price < p's ∧ size ≥ p's) or
    * (price ≤ p's ∧ size > p's). For two dimensions the frontier falls
    * out of ONE sort: two RANGE-frame running maxima over the integer
    * price ordering — `m1` = best size strictly cheaper (RANGE …
    * AND 1 PRECEDING on cents), `m2` = best size at-or-cheaper — and
    * the dominance test is two integer comparisons; equal-(price, size)
    * rows are all frontier (no strict beat), the weak-dominance
    * convention both engines replay.
    *
    * Scale shape (r15 advice: the global RANGE windows are a
    * single-partition sort, and running them over the RAW relation
    * collapses the corpus into one task): a LOSSLESS partitioned
    * pre-reduction runs first — per $100 price band (integer
    * `price_c div 10000`, one partial-combined aggregate), the max
    * size; a row whose size is ≤ the running max over STRICTLY lower
    * bands is already beaten by a strictly-cheaper row and can never
    * be frontier, so only rows ABOVE their band-prefix max enter the
    * global pass. Exactness: every pruned row is dominated by a chain
    * ending in a SURVIVOR that is strictly cheaper with ≥ size, so
    * the survivors' running maxima still reject every truly-dominated
    * survivor, and survivor maxima ≤ full maxima means no frontier row
    * is ever rejected — the green hash against the naive oracle is the
    * proof. The single-partition sort now touches the pruned set
    * (frontier-sized + band stragglers), the bands relation is
    * band-cardinality and broadcast back.
    */
  def q199(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir)("part").select(col("p_partkey"),
      cents(col("p_retailprice")).as("price_c"),
      col("p_size").cast("long").as("size"))
      .withColumn("band", expr("price_c div 10000"))
    val bands = p.groupBy(col("band")).agg(max(col("size")).as("bmax"))
    val wB = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prev = bands
      .withColumn("prev_max", max(col("bmax")).over(wB))
      .select(col("band"), col("prev_max"))
    val pruned = p.join(broadcast(prev), Seq("band"), "left")
      .filter(col("prev_max").isNull || col("prev_max") < col("size"))
    val wLt = Window.orderBy(col("price_c"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val wLe = Window.orderBy(col("price_c"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    pruned.withColumn("m1", max(col("size")).over(wLt))
      .withColumn("m2", max(col("size")).over(wLe))
      .filter(!(coalesce(col("m1") >= col("size"), lit(false)) ||
        col("m2") > col("size")))
      .select(col("p_partkey"), col("price_c"), col("size"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic — "do clicks and
    * views spend from the same distribution?": D = max |F₁ − F₂| over
    * the pooled support, cross-multiplied to stay integral —
    * `D_num = max |cum₁·n₂ − cum₂·n₁|`, `D = D_num / (n₁·n₂)` — the
    * cross-products exact in DECIMAL(38,0) (the q293 widening: the old
    * int64 spelling threw past n ≈ 3·10⁹ per side under the session's
    * ANSI default — one day of corpus events), witnesses try_cast to
    * their declared BIGINT, one 6dp report dividing the exact
    * decimals. Cumulative counts advance at DISTINCT
    * value grain, so ties contribute after their full mass, the
    * textbook ECDF convention. One value-grain aggregate + one ordered
    * window over the distinct-value relation.
    */
  def q200(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), cents(col("value")).as("c"))
    val cells = e.groupBy(col("c")).agg(
      count(when(col("event_type") === "click", 1)).as("n1c"),
      count(when(col("event_type") === "view", 1)).as("n2c"))
    val wCum = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy()
    cells
      .withColumn("cum1", sum(col("n1c")).over(wCum))
      .withColumn("cum2", sum(col("n2c")).over(wCum))
      .withColumn("n1", sum(col("n1c")).over(wAll))
      .withColumn("n2", sum(col("n2c")).over(wAll))
      .select(col("n1"), col("n2"),
        abs(dec(col("cum1")) * dec(col("n2")) -
          dec(col("cum2")) * dec(col("n1"))).as("num"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("num")).as("__dnum"))
      .withColumn("__dden", dec(col("n1")) * dec(col("n2")))
      .select(col("n1"), col("n2"),
        expr("try_cast(__dnum as bigint)").as("d_num"),
        expr("try_cast(__dden as bigint)").as("d_den"),
        round(col("__dnum").cast("double") /
          col("__dden").cast("double"), 6).as("d"))
  }

  /** Weighted median per group — the order statistic where each row
    * carries mass (median line price weighted by quantity, the "what
    * does the median UNIT sell at" question the unweighted q170 median
    * can't answer): rank within group by (price, orderkey, linenumber),
    * running weight, and the weighted median is the FIRST value whose
    * doubled cumulative weight reaches the total (`2·cumw ≥ totw`) —
    * all int64, no interpolation, deterministic under value ties
    * because equal values are interchangeable at a rank. One
    * group-keyed exchange carrying both windows.
    */
  def q201(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir)("lineitem").select(col("l_returnflag"),
      cents(col("l_extendedprice")).as("price_c"),
      col("l_quantity").cast("long").as("w"),
      col("l_orderkey"), col("l_linenumber"))
    val wOrd = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("price_c").asc, col("l_orderkey").asc,
        col("l_linenumber").asc)
    val wAll = Window.partitionBy(col("l_returnflag"))
    li.withColumn("cumw", sum(col("w")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("totw", sum(col("w")).over(wAll))
      .filter(col("cumw") * 2L >= col("totw"))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("totw"),
        col("price_c").as("wmedian_c"))
  }

  /** Gini concentration index over supplier revenue — the inequality
    * number behind q192's ABC classes: with revenues sorted ascending,
    * `G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx)` — numerator and denominator
    * exact integers (value ties commute: swapping equal x across ranks
    * leaves Σ i·xᵢ unchanged, so the tie-break never shows), one 6dp
    * division at the end. The rank-weighted sum and both combinations
    * run in DECIMAL(38,0) (the q293 widening): the old int64 envelope
    * n·Σx < 2⁶³ died at ~10⁶ suppliers × 10¹² total cents — one real
    * catalog — where the session's ANSI default turned Σ i·xᵢ into a
    * job-killing overflow while DuckDB widened to HUGEINT. Decimal is
    * exact to 10³⁸ (n·Σx at 10⁹ suppliers × 10²⁰ cents still has 9
    * digits of headroom); `gini` divides from the exact decimals, and
    * the integer witness columns TRY_CAST back to their declared
    * BIGINT, NULLing past 2⁶³ while the report stays correct
    * (ScaleSpec plants a catalog past the old envelope and pins the
    * replay).
    * Supplier-cardinality windows after one corpus aggregate.
    */
  def q202(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir)("lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1) - col("l_discount"))))
        .as("rev_c"))
    val wOrd = Window.orderBy(col("rev_c").asc, col("l_suppkey").asc)
    rev.withColumn("i", row_number().over(wOrd))
      .agg(count(lit(1)).as("n"), sum(col("rev_c")).as("sum_c"),
        sum(dec(col("i")) * dec(col("rev_c"))).as("iwsum"))
      .withColumn("__num",
        col("iwsum") * 2L - dec(col("n") + 1L) * dec(col("sum_c")))
      .withColumn("__den", dec(col("n")) * dec(col("sum_c")))
      .select(col("n"), col("sum_c"),
        // try_cast: witnesses NULL past their declared BIGINT (a
        // plain decimal→long cast THROWS under the session's ANSI
        // default); the gini report divides the exact decimals
        // either way
        expr("try_cast(__num as bigint)").as("gini_num"),
        expr("try_cast(__den as bigint)").as("gini_den"),
        round(col("__num").cast("double") /
          col("__den").cast("double"), 6).as("gini"))
  }

  /** Per-type linear trend of daily counts — "is traffic growing":
    * OLS slope / intercept / r² per event type over the full day grid
    * (x = day − first day, y = count incl. real zeros), every
    * coefficient ONE double expression over five exact sums, 6dp;
    * zero-variance series emit NULL. Exactness (the q293 widening):
    * Σx and Σy stay int64 (Σx ≤ m², generous to 10⁹ days), but Σxy,
    * Σx², Σy² and the bilinear combinations m·Σxy − Σx·Σy etc. run in
    * DECIMAL(38,0) — the old all-int64 posture OVERFLOWED at ~10⁴
    * days × 10⁸ events/day (Σy² ~ 10²⁰ > 2⁶³), a routine year of
    * corpus traffic — a loud job-killing throw under the session's
    * ANSI default — while DuckDB widened to HUGEINT. The r² DENOM
    * still multiplies its two variance terms as doubles after exact
    * decimal subtraction (their product can pass 10³⁸; decimal→double
    * rounds to nearest exactly like HUGEINT→double, so engines agree
    * bitwise). ScaleSpec plants a series past 2⁶³ and pins the exact
    * replay. Grid-grain arithmetic after one corpus aggregate.
    */
  def q203(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      expr("ts_ns div 1000 div 86400000000").as("d"))
    val counts = e.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"))
    val d0 = e.agg(min(col("d")).as("d0"))
    val grid = e.select(col("d")).distinct()
      .crossJoin(e.select(col("event_type")).distinct())
      .join(counts, Seq("event_type", "d"), "left")
      .crossJoin(broadcast(d0))
      .select(col("event_type"), (col("d") - col("d0")).as("x"),
        coalesce(col("n"), lit(0L)).as("y"))
    val sums = grid.groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val slopeNum = (dec(col("m")) * col("sxy") -
      dec(col("sx")) * dec(col("sy"))).cast("double")
    val slopeDen = (dec(col("m")) * col("sxx") -
      dec(col("sx")) * dec(col("sx"))).cast("double")
    // each variance term is exact DECIMAL(38,0); their PRODUCT can
    // pass 10^38, so multiply as doubles (exact-integer→double rounds
    // to nearest on both engines, identical IEEE product)
    val r2den = (dec(col("m")) * col("sxx") -
      dec(col("sx")) * dec(col("sx"))).cast("double") *
      (dec(col("m")) * col("syy") -
        dec(col("sy")) * dec(col("sy"))).cast("double")
    sums.select(col("event_type"), col("m").as("n_days"),
      round(slopeNum / slopeDen, 6).as("slope"),
      round((col("sy").cast("double") - (slopeNum / slopeDen) *
        col("sx").cast("double")) / col("m").cast("double"), 6)
        .as("intercept"),
      round(slopeNum * slopeNum / r2den, 6).as("r2"))
  }

  /** Theil–Sen robust trend of daily counts per event type — q203's
    * OLS sibling with a 29.3% breakdown point (Theil 1950; Sen, *JASA*
    * 1968): slope = MEDIAN of all pairwise day-slopes, intercept =
    * median of the per-point residual intercepts, so a bot burst or an
    * outage day cannot drag the trend the way it drags OLS (one wild
    * day moves n−1 of the ~n²/2 pair slopes — the median barely
    * budges; it moves EVERY OLS sum). All-integer: pair slopes in
    * micro-units/day with truncating `div` (negative numerators
    * truncate toward zero in BOTH engines — the q226 pin), medians are
    * the LOWER median (rank ⌊(n+1)/2⌋ by value — rank-k VALUES are
    * tie-deterministic), int64 envelope |Δcount|·10⁶ < 2⁶³ holds to
    * 9·10⁹ events/day/type. Scale shape: the pair join is DAY-GRID
    * grain, never corpus — a decade is 3 653 days → 6.7 M pairs per
    * series, embarrassingly parallel after one corpus day-count
    * aggregate; the grid is localCheckpoint-ed once (it feeds the pair
    * self-join twice plus the residual pass — the r16 triangles
    * lesson). The calendar bounds the quadratic BY CONSTRUCTION, the
    * reason this needs no cap/audit twin.
    */
  def q257(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      expr("ts_ns div 1000 div 86400000000").as("d"))
    val counts = e.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"))
    val d0 = e.agg(min(col("d")).as("d0"))
    val grid = e.select(col("d")).distinct()
      .crossJoin(e.select(col("event_type")).distinct())
      .join(counts, Seq("event_type", "d"), "left")
      .crossJoin(broadcast(d0))
      .select(col("event_type"), (col("d") - col("d0")).as("x"),
        coalesce(col("n"), lit(0L)).as("y"))
      .localCheckpoint(true)
    val pairs = grid.select(col("event_type"), col("x").as("x1"),
        col("y").as("y1"))
      .join(grid.select(col("event_type"), col("x").as("x2"),
        col("y").as("y2")), Seq("event_type"))
      .filter(col("x1") < col("x2"))
      .select(col("event_type"),
        expr("(y2 - y1) * 1000000L div (x2 - x1)").as("sm"))
    val wS = Window.partitionBy(col("event_type")).orderBy(col("sm"))
    val wT = Window.partitionBy(col("event_type"))
    val slope = pairs.withColumn("rn", row_number().over(wS))
      .withColumn("np", count(lit(1)).over(wT))
      .filter(col("rn") === expr("(np + 1L) div 2L"))
      .select(col("event_type"), col("sm").as("slope_micro"),
        col("np").as("n_pairs"))
    val res = grid.join(slope, Seq("event_type"))
      .select(col("event_type"), col("slope_micro"), col("n_pairs"),
        (col("y") * 1000000L - col("slope_micro") * col("x")).as("r"))
    val wR = Window.partitionBy(col("event_type")).orderBy(col("r"))
    res.withColumn("rn", row_number().over(wR))
      .withColumn("nd", count(lit(1)).over(wT))
      .filter(col("rn") === expr("(nd + 1L) div 2L"))
      .select(col("event_type"), col("nd").as("n_days"), col("n_pairs"),
        col("slope_micro"), col("r").as("intercept_micro"))
  }

  /** Mann–Kendall trend test + Kendall τ-a over the daily series —
    * q257's DETECTION companion (Mann 1945; Kendall 1975; the
    * classic pairing: Mann–Kendall answers "is there a monotonic
    * trend", Theil–Sen estimates its slope — hydrology/ops run them
    * together): over the SAME zero-filled day grid, per event type,
    * S = Σ_{i<j} sign(y_j − y_i) from concordant/discordant pair
    * counts, τ_a_bp = S·10⁴ div n_pairs (truncating, negative values
    * truncate toward zero in both engines — the q226 pin), and the
    * tie-corrected variance EXACTLY as its ×18 multiple:
    * `var18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)` over tie groups t
    * (the sqrt/z step stays driver-side against 1.96 — no CDF in
    * either engine, the q272 posture; var18 is int64-exact to
    * n ≈ 2·10⁶ days, centuries past any calendar). Scale shape: one
    * corpus day-count aggregate, then the pair join at DAY-GRID grain
    * (the q257 calendar-bounded quadratic, grid checkpointed once)
    * plus a tie aggregate at value grain. A burst day flips at most
    * n−1 of the ~n²/2 pair signs — the robustness OLS r² lacks.
    */
  def q282(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      expr("ts_ns div 1000 div 86400000000").as("d"))
    val counts = e.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"))
    val d0 = e.agg(min(col("d")).as("d0"))
    val grid = e.select(col("d")).distinct()
      .crossJoin(e.select(col("event_type")).distinct())
      .join(counts, Seq("event_type", "d"), "left")
      .crossJoin(broadcast(d0))
      .select(col("event_type"), (col("d") - col("d0")).as("x"),
        coalesce(col("n"), lit(0L)).as("y"))
      .localCheckpoint(true)
    val pairStats = grid.select(col("event_type"), col("x").as("x1"),
        col("y").as("y1"))
      .join(grid.select(col("event_type"), col("x").as("x2"),
        col("y").as("y2")), Seq("event_type"))
      .filter(col("x1") < col("x2"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("y2") > col("y1"), 1L).otherwise(0L)).as("c"),
        sum(when(col("y2") < col("y1"), 1L).otherwise(0L)).as("disc"))
    val ties = grid.groupBy(col("event_type"), col("y"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_values"),
        sum(col("t")).as("n_days"),
        sum(col("t") * (col("t") - 1L) * (col("t") * 2L + 5L))
          .as("tie18"))
    pairStats.join(ties, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_pairs"),
        (col("c") - col("disc")).as("s_stat"),
        (col("n_pairs") - col("c") - col("disc")).as("n_tied_pairs"),
        expr("(c - disc) * 10000L div n_pairs").as("tau_a_bp"),
        (col("n_days") * (col("n_days") - 1L) *
          (col("n_days") * 2L + 5L) - col("tie18")).as("var18"))
  }

  /** Per-day robust outlier flags over the daily event series
    * ([[graft.ops.Validate.robustOutliers]]): modified z-score in
    * exact basis points per (event_type, day) — the anomaly screen an
    * operator actually pages on, where q200's KS and q213's CUSUM
    * summarize. Observed days only (a type absent on a day is a spine
    * question — q257/q242 own the zero-filled grid; mixing the two
    * conventions would double-flag gaps as bursts). The fixture's
    * daily counts are synthetic-uniform — nothing real clears 3.5
    * robust z at any SF — so days with day ≡ 7 (mod 30) carry a
    * PLANTED +100 000 burst (the q262 planted-arm convention),
    * populating BOTH verdicts over data while the clean days pin the
    * no-flag arm. The oracle replays the burst rule, both lower
    * medians and the 6745/35000 integer predicate.
    */
  def q269(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .select(col("event_type"),
        expr("ts_ns div 1000 div 86400000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg((count(lit(1)) +
        when(pmod(col("day"), lit(30L)) === 7L, lit(100000L))
          .otherwise(lit(0L))).as("n_events"))
    graft.ops.Validate.robustOutliers(daily, Seq("event_type"),
        "n_events")
      .select(col("event_type"), col("day"), col("n_events"),
        col("med"), col("mad"), col("mz_bp"), col("is_outlier"))
  }

  /** The p50/p90/p99 report from histogram state
    * ([[graft.ops.Incremental.binnedQuantiles]]) — the latency/size
    * dashboard read over the SAME mergeable+retractable state q210 and
    * q267 maintain: per event_type, three nearest-rank quantiles of
    * value cents at bin 1000. The oracle replays the cumulative
    * window, the ceiling nearest-rank and the lower-edge mapping.
    */
  def q271(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.Incremental
    val e = events(s, dir).select(col("event_type"),
      cents(col("value")).as("c"))
    Incremental.binnedQuantiles(
      Incremental.histState(e, Seq("event_type"), "c", 1000L),
      Seq("event_type"), 1000L, Seq(5000L, 9000L, 9900L))
  }

  /** A/B experiment readout ([[graft.ops.Classify.chiSquare2x2]]):
    * users split by id parity (variant), outcome = the last digit of
    * the user's max purchase cents < 5 — the conversion table +
    * Pearson χ² every experimentation platform prints. The outcome is
    * deliberately a fixture-ENTROPY predicate (the synthetic corpus is
    * so dense every user purchases, so "made a purchase" is
    * degenerate-true at every SF; a cents digit splits ~50/50 at any
    * scale), uncorrelated with parity, so the fixture χ² is honestly
    * small — the no-effect reading, with a DEFINED statistic,
    * exercised over data. Cells and the fixed-order double replay
    * exactly; users with no purchase would drop via the NULL rule.
    */
  def q272(s: SparkSession, dir: String): DataFrame = {
    val users = events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(max(cents(col("value"))).as("mx"))
      .select((pmod(col("user_id"), lit(2L)) === 0L).as("variant"),
        (pmod(col("mx"), lit(10L)) < 5L).as("converted"))
    graft.ops.Classify.chiSquare2x2(users, "variant", "converted")
  }

  /** Benford first-digit screen on order totals — the fraud-analytics
    * classic: leading-digit counts of `o_totalprice` cents vs Benford's
    * expectation log₁₀(1 + 1/d). Counts are exact int64; the observed
    * share is one 4dp division, the expected share a CONSTANT per digit
    * (both engines evaluate the same literal expression), and the
    * deviation their 4dp difference. One corpus aggregate to 9 rows.
    */
  def q204(s: SparkSession, dir: String): DataFrame = {
    val digit = substring(cents(col("o_totalprice")).cast("string"), 1, 1)
      .cast("long")
    val counts = t(s, dir)("orders")
      .select(digit.as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("t"))
    counts.crossJoin(broadcast(tot))
      .select(col("d"), col("n"),
        round(col("n").cast("double") / col("t").cast("double"), 4)
          .as("share"),
        round(log(10.0, lit(1.0) + lit(1.0) / col("d")
          .cast("double")), 4).as("benford"),
        round(col("n").cast("double") / col("t").cast("double") -
          log(10.0, lit(1.0) + lit(1.0) / col("d").cast("double")),
          4).as("dev"))
  }

  /** Ordered group concatenation — the "one readable cell per group"
    * report surface (per source: its distinct languages as one sorted
    * comma list + counts): built deterministic-by-construction —
    * collect_set has NO order contract, so the list is array_sort-ed
    * BEFORE the join, making the string a pure function of the set at
    * any parallelism (DuckDB replays it as `string_agg(DISTINCT …
    * ORDER BY …)`). One key shuffle; list size = per-group distinct
    * cardinality, bounded here by the language domain.
    */
  def q205(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        array_join(array_sort(collect_set(col("lang"))), ",")
          .as("langs"))

  /** max_by / min_by (argmax) parity — "which event carried the
    * biggest spend": per event type the event_id of the largest and
    * smallest value, with the orderer made UNIQUE by a STRUCT
    * composite `(cents, event_id)` because argmax under ties is
    * engine-arbitrary. r15 advice: the arithmetic composite
    * `cents·10⁶ + event_id` silently assumed `event_id < 10⁶` — past
    * that the id term carries into the cents term and max_by can
    * return an event that does NOT carry the max spend; the struct
    * orderer is lexicographic at any scale, no bound. Tie-break is
    * therefore "largest event_id among max-spend rows" (and smallest
    * among min-spend). DuckDB's max_by rejects struct orderers, so
    * the oracle replays the same semantics as max(c) → equi-join →
    * max(event_id). One partial-combined aggregate; max_by/min_by
    * state is a single (orderer, value) pair.
    */
  def q206(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"), col("event_id"),
        cents(col("value")).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("max_by(event_id, struct(c, event_id))").as("max_spend_event"),
        expr("min_by(event_id, struct(c, event_id))").as("min_spend_event"))

  /** TRY_CAST dirty-ingestion parity — the error-free typed-landing
    * pass every raw feed needs: planted dirty numerics (clean,
    * whitespace-padded, trailing garbage, empty, int64 overflow,
    * negative) TRY_CAST to BIGINT, per-pattern success counts and the
    * exact sum of parsed values. Patterns stick to INTEGER strings —
    * where the engines provably agree ('3.9' would round in DuckDB and
    * truncate in Spark, a real divergence this query deliberately
    * fences out and documents. One scan to a 6-row report.
    */
  def q207(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val pat = (pmod(id, lit(6L))).cast("int")
    val sVal = when(pat === 0, id.cast("string"))
      .when(pat === 1, concat(lit("  "), id.cast("string"), lit(" ")))
      .when(pat === 2, concat(id.cast("string"), lit("x")))
      .when(pat === 3, lit(""))
      .when(pat === 4, lit("99999999999999999999"))
      .otherwise(concat(lit("-"), id.cast("string")))
    t(s, dir)("documents")
      .select(pat.as("pattern"), sVal.as("s"))
      .select(col("pattern"), expr("try_cast(s AS BIGINT)").as("v"))
      .groupBy(col("pattern"))
      .agg(count(lit(1)).as("n"), count(col("v")).as("n_parsed"),
        sum(col("v")).as("sum_v"))
  }

  /** Binned weighted median — q201's PRODUCTION sibling in the q68
    * exact/approx dual posture (r15 verdict #8): q201's exact order
    * statistic needs a corpus-grain sort per group; at 100 TB the
    * cheap path bins price into fixed $100 integer bins (one
    * partial-combined aggregate, the only corpus pass), then finds
    * the first bin whose doubled cumulative weight reaches the total
    * — a window over BIN grain (~1000 rows/group), never corpus
    * grain. The answer is an INTERVAL `[wmed_lo_c, wmed_hi_c]`
    * guaranteed to contain q201's exact weighted median (bin width =
    * the error bound, OpsSpec pins containment against the exact on
    * the fixture) — and unlike percentile_approx's sketch, the binned
    * statistic is a pure integer function of the data, so the oracle
    * replays it bit-for-bit: the approx path gets a FULL hash gate,
    * not a tolerance check.
    */
  def q209(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir)("lineitem").select(col("l_returnflag"),
        cents(col("l_extendedprice")).as("price_c"),
        col("l_quantity").cast("long").as("w"))
      .withColumn("bin", expr("price_c div 10000"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(sum(col("w")).as("bw"))
    val wOrd = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    h.withColumn("cumw", sum(col("bw")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("totw", sum(col("bw")).over(wAll))
      .filter(col("cumw") * 2L >= col("totw"))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("totw"), col("bin"),
        (col("bin") * 10000L).as("wmed_lo_c"),
        ((col("bin") + 1L) * 10000L - 1L).as("wmed_hi_c"))
  }

  /** Binned median/MAD outlier screen — q173's PRODUCTION sibling
    * (r15 verdict #8, same dual posture as q209): exact MAD is three
    * corpus passes by construction; the binned form touches the
    * corpus ONCE ($10 integer bins per event type, one
    * partial-combined aggregate) and runs everything else at bin
    * grain — binned median = first bin with doubled cumulative count
    * ≥ total, binned deviations = |bin − med_bin| weighted by bin
    * counts, binned MAD = their weighted median, and the outlier
    * count re-reads the HISTOGRAM (`|bin−mbin| > 3·mad_bins`), not
    * the corpus. Reported values are lower bin edges: med within one
    * bin width of exact, MAD within two (deviation binning compounds
    * the median's bound). All-integer → full oracle hash gate; q173
    * stays the exact comparator at its honest three-pass floor.
    *
    * Expressed as the library pair [[graft.ops.Incremental.histState]]
    * → [[graft.ops.Incremental.binnedMedMad]]: the histogram is a
    * MERGEABLE state (counts add), so a stored per-batch histogram
    * answers this report with zero corpus passes — the incremental
    * path no exact order statistic can have (OpsSpec pins the
    * state(a∪b) ≡ merge(state(a), state(b)) law and the read-side
    * equality on top of it).
    */
  def q210(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      cents(col("value")).as("c"))
    graft.ops.Incremental.binnedMedMad(
      graft.ops.Incremental.histState(e, Seq("event_type"), "c", 1000L),
      Seq("event_type"), 1000L)
  }

  /** CUSUM drift detection over daily event counts — the
    * change-point screen that catches a SUSTAINED small shift the
    * per-day q196 MAD screen is blind to (ten days each 1.5σ high
    * never trip a 3σ day test; their cumulative sum does). The
    * recursive textbook form `S_d = max(0, S_{d-1} + dev_d)` is not
    * window-expressible, but its closed form is: `S_d = cum_d −
    * min(0, min_{j≤d} cum_j)` — ONE running sum + ONE running min
    * over the day grid. Deviations stay integral by
    * cross-multiplication: `dev = n·D − T` (n·D ≈ 10¹²·10⁴ at 100 TB,
    * inside int64), so `s_num` is exact and the alarm
    * `s_num > 2·T` (cumulative excess above twice a mean day's mass,
    * in the same ·D units) never divides. Corpus touched once for the
    * counts; all windows run over the types×days grid with real
    * zeros (the q196 rule).
    */
  def q213(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("event_type"),
      expr("ts_ns div 1000 div 86400000000").as("d"))
    val counts = e.groupBy(col("event_type"), col("d"))
      .agg(count(lit(1)).as("n"))
    val grid = e.select(col("d")).distinct()
      .crossJoin(e.select(col("event_type")).distinct())
      .join(counts, Seq("event_type", "d"), "left")
      .select(col("event_type"), col("d"),
        coalesce(col("n"), lit(0L)).as("n"))
    val wAll = Window.partitionBy(col("event_type"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("t", sum(col("n")).over(wAll))
      .withColumn("nd", count(lit(1)).over(wAll))
      .withColumn("cum", sum(col("n") * col("nd") - col("t")).over(wCum))
      .withColumn("s_num",
        col("cum") - least(lit(0L), min(col("cum")).over(wCum)))
      .select(col("event_type"), col("d").as("day"), col("n"),
        col("s_num"), (col("s_num") > col("t") * 2L).as("alarm"))
  }

  /** RFM (recency / frequency / monetary) quintile scoring — the
    * classic customer segmentation: per user the last-active day,
    * event count and exact cents spend, each bucketed into quintiles
    * by the ntile-FREE integer rank rule `q = ((rk−1)·5) div n + 1`
    * (ntile's remainder placement is engine-defined — the r15 parity
    * trap; this rule is a pure function of (rank, n) on both engines),
    * rank ties broken by user_id so every bucket edge is
    * deterministic. One corpus aggregate to user grain; the three
    * rank windows run over USERS, not events — and they are GLOBAL
    * (unpartitioned) windows, i.e. one sort task over the user
    * relation: honest at dimension scale, a single-partition cost at
    * 10⁹ users, where the production form swaps the exact ranks for
    * binned quantile cuts (the q209/q210 histogram machinery — value
    * cuts from one partial-combined aggregate) at the price of
    * bucket-edge ties landing by VALUE instead of by rank.
    */
  def q214(s: SparkSession, dir: String): DataFrame = {
    val u = events(s, dir)
      .select(col("user_id"), expr("ts_ns div 1000 div 86400000000").as("d"),
        cents(col("value")).as("c"))
      .groupBy(col("user_id"))
      .agg(max(col("d")).as("r_day"), count(lit(1)).as("f"),
        sum(col("c")).as("m_c"))
    val wAll = Window.partitionBy()
    val wR = Window.orderBy(col("r_day").asc, col("user_id").asc)
    val wF = Window.orderBy(col("f").asc, col("user_id").asc)
    val wM = Window.orderBy(col("m_c").asc, col("user_id").asc)
    u.withColumn("n_u", count(lit(1)).over(wAll))
      .withColumn("rank_r", row_number().over(wR))
      .withColumn("rank_f", row_number().over(wF))
      .withColumn("rank_m", row_number().over(wM))
      .select(col("user_id"), col("r_day"), col("f"), col("m_c"),
        expr("((rank_r - 1) * 5) div n_u + 1").as("r_q"),
        expr("((rank_f - 1) * 5) div n_u + 1").as("f_q"),
        expr("((rank_m - 1) * 5) div n_u + 1").as("m_q"))
      .withColumn("rfm_code",
        col("r_q") * 100L + col("f_q") * 10L + col("m_q"))
  }

  /** First-touch conversion lag — per user the time from the FIRST
    * view to the first purchase AT OR AFTER it (purchases before any
    * view are not conversions of one): the attribution number funnels
    * (q48) and session paths (q185) don't give. Two user-grain
    * aggregates: first-view per user, then the conditional min over
    * purchases gated on `ts ≥ first_view` after a user-keyed join —
    * the corpus is scanned twice but shuffles only to user grain, and
    * the lag arithmetic is exact integer microseconds on the shared
    * epoch clock (never timestamp subtraction with engine-specific
    * interval types). Users who never convert report NULL lag — the
    * left join keeps them so the hash pins the non-converts too.
    */
  def q215(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"), col("event_type"),
      expr("ts_ns div 1000").as("us"))
    val fv = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("first_view_us"))
    val fp = e.filter(col("event_type") === "purchase")
      .join(fv, Seq("user_id"))
      .filter(col("us") >= col("first_view_us"))
      .groupBy(col("user_id"))
      .agg(min(col("us")).as("first_purchase_us"))
    fv.join(fp, Seq("user_id"), "left")
      .select(col("user_id"), col("first_view_us"),
        col("first_purchase_us"),
        (col("first_purchase_us") - col("first_view_us")).as("lag_us"))
  }

  /** Sketch-based audience growth — q197's PRODUCTION sibling at
    * 100 TB, where the exact first-active-day pass needs a user-keyed
    * shuffle of the full history: per-day HLL sketches
    * (`hll_sketch_agg`, the mergeable Datasketches state Spark ships)
    * union-merged cumulatively at DAY grain — the day×day triangle
    * join is days²-bounded, never corpus-bounded, and a stored per-day
    * sketch table makes every later report a sketch-merge, no history
    * re-scan (the q175 incremental-state posture applied to DISTINCT
    * counting, which no exact algebraic state can do). Gated in the
    * q45 estimator posture: the output carries the EXACT cumulative
    * count and a tolerance verdict (HLL lgK=12 ⇒ σ ≈ 1.6%, gate at
    * max(5, 5%)); the oracle replays the exact side and pins
    * `within_tol = TRUE`, so a drifting estimator fails the hash.
    */
  def q218(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).select(col("user_id"),
      expr("ts_ns div 1000 div 86400000000").as("d"))
    val exact = {
      val firstDay = e.groupBy(col("user_id")).agg(min(col("d")).as("fd"))
        .groupBy(col("fd")).agg(count(lit(1)).as("new_users"))
      val wCum = Window.orderBy(col("d").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("d")).distinct()
        .join(firstDay, col("d") === col("fd"), "left")
        .select(col("d"), coalesce(col("new_users"), lit(0L)).as("nu"))
        .withColumn("exact_cum", sum(col("nu")).over(wCum))
        .select(col("d"), col("exact_cum"))
    }
    val daily = e.groupBy(col("d"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val est = daily.select(col("d").as("d2"), col("sk"))
      .join(exact.select(col("d")), col("d2") <= col("d"))
      .groupBy(col("d"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    exact.join(est, Seq("d"))
      .select(col("d").as("day"), col("exact_cum"),
        (abs(col("est") - col("exact_cum")) <=
          greatest(lit(5L), col("exact_cum") / 20L)).as("within_tol"))
  }

  /** Key-skew profile as a GATED query ([[graft.ops.Skew
    * .keySkewProfile]] was spec-only): the top-10 hottest user keys
    * with counts and their load share in basis points vs a uniform
    * key — the report that decides whether a join needs q-style
    * salting BEFORE it falls over at 100 TB. One partial-combined
    * aggregate + TakeOrderedAndProject; ties broken by key so the
    * boundary is deterministic. share_bp = n·10⁴·K/T cross-multiplied
    * (a uniform key reads 10000). int64 bound (the q202/q211
    * convention): the product n·10⁴·K must stay under 2⁶³, i.e.
    * n·K < 9.2·10¹⁴ — a corpus with 10⁹ distinct keys overflows once
    * the hottest key passes ~10⁶ rows; past that envelope compute
    * share_bp = n·10⁴ div (t div k) instead (loses ≤ k/t relative
    * precision, immaterial when t ≫ k).
    */
  def q219(s: SparkSession, dir: String): DataFrame = {
    val prof = graft.ops.Skew.keySkewProfile(
      events(s, dir).select(col("user_id")), "user_id", topN = 10)
    val tot = events(s, dir)
      .agg(count(lit(1)).as("t"), countDistinct(col("user_id")).as("k"))
    prof.crossJoin(broadcast(tot))
      .select(col("user_id"), col("n"),
        expr("n * 10000 * k div t").as("share_bp"))
  }

  /** Shannon entropy of each source's language mix — the diversity
    * number a mixture designer reads next to q59's weights: from
    * exact (source, lang) counts, `H = ln(n) − Σ c·ln(c) / n` in one
    * 4dp double expression over int64 counts (the q186 posture —
    * exact integers until a single final float step, margins ≫ ulp so
    * IEEE doubles agree cross-engine). Uniform-mix sources read
    * ln(n_langs); single-language sources read exactly 0. Cells
    * relation is sources×languages; the corpus enters one aggregate.
    */
  def q220(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir)("documents")
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    cells.groupBy(col("source"))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_langs"),
        round(log(sum(col("c")).cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum(col("c")).cast("double"), 4).as("entropy"))
  }

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the join
    * semantics gap every equi-join silently hides: NULL keys NEVER
    * match under `=` (3VL), so rows with unknown keys vanish from an
    * inner join; the null-safe operator makes NULL a real join class.
    * Planted NULL keys on both sides (every 7th doc), even/odd halves
    * joined on `k <=> k` with k = (doc_id div 2) mod 50 so every key
    * class spans BOTH halves (a parity-correlated key would leave the
    * NULL class the only matching one and gate nothing else — caught
    * at gate time, 1 row → 51), pair counts per key INCLUDING the
    * NULL key row — the hash pins that NULL·NULL matched (the class
    * `=` drops) alongside the 50 ordinary classes. Same hash-shuffle plan as a plain
    * equi-join: Spark plans `<=>` as an EqualNullSafe key, not a
    * nested loop — which is exactly why it's the production spelling
    * of "join on possibly-missing keys" at 100 TB.
    */
  def q221(s: SparkSession, dir: String): DataFrame = {
    def half(parity: Int) = t(s, dir)("documents")
      .filter(pmod(col("doc_id"), lit(2L)) === parity)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit(null).cast("long"))
          .otherwise(pmod(expr("doc_id div 2"), lit(50L))).as("k"))
    val a = half(0).select(col("k"), col("doc_id").as("id_a"))
    val b = half(1).select(col("k").as("kb"), col("doc_id").as("id_b"))
    a.join(b, col("k") <=> col("kb"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"), min(col("id_a")).as("min_a"),
        max(col("id_b")).as("max_b"))
  }

  /** Triangle counting ([[graft.ops.Graph.triangles]], degree-ordered
    * orientation — Schank–Wagner / Suri–Vassilvitskii): the planted
    * graph puts a disjoint triangle on every id triple (3k, 3k+1,
    * 3k+2), chains triples with (3k+2, 3k+3), and closes every 15th
    * chain link into a SECOND, edge-sharing triangle (3k, 3k+2, 3k+3)
    * via shortcut edges — so shared-edge triangles, reversed duplicate
    * edges (every 6th, exercising symmetrization) and self-loops
    * (every 11th, dropped) are all planted. Output is the per-triangle
    * relation with n_a < n_b < n_c; the oracle replays the planting
    * and the canonical a<b<c three-way join, so the hash proves the
    * oriented-wedge algorithm finds EXACTLY the definitional triangle
    * set — nothing double-counted across the shared edges.
    */
  def q222(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.triangles(plantedGraphEdges(s, dir), "s", "t")

  /** Degree assortativity over the SAME planted graph the triangle /
    * health / link-prediction family gates
    * ([[graft.ops.Graph.degreeAssortativity]] — Newman's hubs-link-to-
    * hubs Pearson over oriented edge incidences, the summary statistic
    * a link-graph health report leads with): all four sufficient
    * statistics are exact int64 sums, only the final division runs in
    * double at 4 dp (the chiSquare2x2 fixed-order posture), so the
    * oracle replays the planting, the symmetrize+dedup, the degree
    * table, the sums AND the division bit-for-bit. The chained-triangle
    * structure mixes degree-2 corners with degree-3+ chain joints, so
    * the statistic lands strictly inside (−1, 1) — both the NULL
    * regular-graph guard and the ±1 degenerate pins live in OpsSpec.
    */
  def q293(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.degreeAssortativity(plantedGraphEdges(s, dir),
      "s", "t")

  /** The q222/q238 planted link graph: disjoint triangles on id
    * triples, chained, every 15th chain link closed into a second
    * edge-sharing triangle, plus reversed duplicates (symmetrization)
    * and self-loops (dropped). Shared so the triangle relation and the
    * per-node health report gate the SAME graph. */
  private def plantedGraphEdges(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents").select(col("doc_id"))
    def sel(m: Long, u: org.apache.spark.sql.Column,
            v: org.apache.spark.sql.Column) =
      d.filter(col("doc_id") % m === 0).select(u.as("s"), v.as("t"))
    val id = col("doc_id")
    sel(3, id, id + 1L)
      .unionByName(sel(3, id + 1L, id + 2L))
      .unionByName(sel(3, id, id + 2L))
      .unionByName(sel(3, id + 2L, id + 3L))
      .unionByName(sel(15, id, id + 3L))
      .unionByName(sel(6, id + 1L, id))
      .unionByName(sel(11, id, id))
  }

  /** Link prediction ([[graft.ops.Graph.linkPrediction]]) over the
    * q222/q238 planted graph: every non-edge pair sharing a neighbor,
    * scored by common-neighbor count and the integer
    * resource-allocation index (Σ 10⁴ div deg(z) over shared z — the
    * Adamic–Adar sibling that stays int64-exact). The planted
    * triangles + chain links + shortcut closures give a rich wedge
    * structure: chain pairs like (3k+1, 3k+3) share corner 3k+2, the
    * every-15th shortcut turns some of those INTO edges (so the
    * anti-join visibly removes them), and multi-neighbor pairs
    * populate cn ≥ 2. Cap 1000 clears the planted degree profile
    * (max ≈ 6), so nothing drops at gate scale; q281 is the biting-cap
    * screen. The oracle replays symmetrization, the wedge self-join,
    * true-degree RA terms and the non-edge anti-join.
    */
  def q280(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.linkPrediction(plantedGraphEdges(s, dir), "s", "t",
      maxNeighbors = 1000)

  /** The loud twin ([[graft.ops.Graph.linkPredictionAudit]]) at cap 2,
    * which the planted chain corners DO exceed — the hub screen with
    * both engines re-deriving degree from the same raw edge list. */
  def q281(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.linkPredictionAudit(plantedGraphEdges(s, dir),
      "s", "t", maxNeighbors = 2)

  /** Spark's NATIVE `session_window(ts, gap)` through the SQL door —
    * the built-in surface for q34's gap sessionization, which q34
    * assembles manually from lag + running sum (r16 verdict #4: the
    * function had no evidence row). Boundary semantics empirically
    * pinned IDENTICAL to q34's rule: Spark merges sessions whose
    * windows touch (next.start ≤ prev.end), so an event exactly `gap`
    * after its predecessor CONTINUES the session — the same
    * "new session when diff > gap" strict inequality q34 spells, and
    * what the DuckDB oracle replays (session start = min ts, end =
    * last ts + gap, both exact micros). Session grain (finer than
    * q34's user rollup, so the hash pins every window's start/end).
    * Scale shape: one user-keyed exchange; Spark's
    * UpdatingSessionsIterator assembles windows per partition with
    * state = the open session — the same O(1)-per-row cost as the
    * manual window, but AQE-placeable and usable in streaming
    * unchanged (StreamingSpec runs this exact expression under a
    * watermark and pins stream ≡ batch on finalized sessions).
    */
  def q237(s: SparkSession, dir: String): DataFrame = sqlDoor(s, dir,
    """SELECT user_id,
              unix_micros(session_window.start) AS start_us,
              unix_micros(session_window.end) AS end_us,
              count(*) AS n_events
       FROM events
       GROUP BY user_id, session_window(ts, '30 minutes')""")

  /** Per-node graph health ([[graft.ops.Graph.nodeHealth]]) over the
    * SAME planted graph as q222 — degree, triangle count and local
    * clustering coefficient in integer basis points per node, the
    * link-farm screen composed from the materialized oriented-edge
    * relation (r16 verdict #5): a chain-interior node with both its
    * planted triangles closed reads cc high; a pure chain node reads
    * 0. The oracle replays the NAIVE definition — canonical a<b<c
    * three-way join, corner-credit counts, `cc = 2T div (d(d−1))` —
    * so the hash proves the oriented-wedge composition equals the
    * definitional statistic node by node, zeros included.
    */
  def q238(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.nodeHealth(plantedGraphEdges(s, dir), "s", "t")

  /** Bounded-round k-core peel ([[graft.ops.Graph.kCorePeel]], k = 2,
    * rounds = 6) over the SAME planted graph as q222/q238 EXTENDED
    * with length-3 tendrils hanging off every 5th doc node (fresh ids
    * at +10⁶/+2·10⁶/+3·10⁶ — disjoint from doc ids at every probed
    * SF): the cascade needs 3 rounds to eat a tendril tip-to-root, so
    * the gate exercises multi-round peeling, and the 6-round budget
    * with the fixed-point early exit must land on the SAME residual
    * as the oracle's 6 unrolled rounds — every triangle/chain node
    * keeps degree ≥ 2 and survives, every tendril node peels. Output
    * is the residual (node, degree) relation, zeros impossible by
    * construction.
    */
  def q244(s: SparkSession, dir: String): DataFrame = {
    val d5 = t(s, dir)("documents")
      .filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select(col("doc_id").as("d"))
    val tendrils = d5.select(col("d").as("s"), (col("d") + 1000000L).as("t"))
      .unionByName(d5.select((col("d") + 1000000L).as("s"),
        (col("d") + 2000000L).as("t")))
      .unionByName(d5.select((col("d") + 2000000L).as("s"),
        (col("d") + 3000000L).as("t")))
    graft.ops.Graph.kCorePeel(
      plantedGraphEdges(s, dir).unionByName(tendrils), "s", "t",
      k = 2L, rounds = 6)
  }

  /** HITS ([[graft.ops.Graph.hits]], 3 iterations, scale 10⁶) over the
    * DIRECTED planted relation (the same raw edges q222/q238/q244
    * symmetrize — here direction survives, so the chain edges make
    * id+2 nodes hubby and id+3 nodes authoritative while triangle
    * corners balance). The oracle unrolls all six half-steps with the
    * L∞ renormalization's truncating division replayed exactly; node
    * grain pins every score, pure-hub zeros included.
    */
  def q247(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.hits(plantedGraphEdges(s, dir), "s", "t",
      iters = 3, scale = 1000000L)

  /** Deterministic label propagation ([[graft.ops.Graph
    * .labelPropagation]], 4 synchronous rounds, min-label tie-break)
    * over the SAME planted graph as q222/q238 — the community screen:
    * the planting chains a triangle onto every id triple, so labels
    * flow down-chain toward small ids and the 4-round snapshot
    * captures the plateau fronts mid-merge (far richer than the
    * converged all-one-label fixture would be: interior, boundary and
    * shortcut-edge nodes all read differently). The oracle unrolls
    * all 4 rounds — neighbor join, (node, label) count, arg-max with
    * the (count DESC, label ASC) tie — as materialized CTEs; node
    * grain pins every label, so the hash proves the synchronous
    * update rule, both tie-break legs and the round count all match.
    */
  def q252(s: SparkSession, dir: String): DataFrame =
    graft.ops.Graph.labelPropagation(plantedGraphEdges(s, dir), "s", "t",
      rounds = 4)

  /** Multi-touch attribution ([[graft.ops.Attribution.touchCredit]]):
    * every purchase's click/view touches in the 7 preceding days, with
    * first/last/linear credit in basis points on ONE touch-grain
    * relation (per-conversion credits sum to exactly 10⁴ by the
    * remainder-to-last rule). The fixture is rich here: ~1 900
    * conversions carrying 1–14 touches each, so single-touch (all
    * three models coincide), long-tail and remainder-bearing rows all
    * populate. The oracle replays the strict-before window predicate,
    * both ranking windows and the truncating credit arithmetic; the
    * user cap (200) is 7× the fixture's densest user, inactive by
    * design — q256 is the loud twin at a biting cap.
    */
  def q255(s: SparkSession, dir: String): DataFrame =
    graft.ops.Attribution.touchCredit(events(s, dir), "user_id", "ts",
      "event_id", "event_type", convType = "purchase",
      touchTypes = Seq("click", "view"), lookbackUs = 604800000000L,
      maxUserTouches = 200)

  /** The audit twin ([[graft.ops.Attribution.touchCreditAudit]]) at
    * cap 20, which the fixture's denser users DO exceed — the bot
    * screen an operator alerts on before raising q255's cap. */
  def q256(s: SparkSession, dir: String): DataFrame =
    graft.ops.Attribution.touchCreditAudit(events(s, dir), "user_id",
      "event_type", touchTypes = Seq("click", "view"),
      maxUserTouches = 20)

  /** DuckDB replay of [[graft.ops.Graph.labelPropagation]] — `rounds`
    * synchronous updates unrolled as MATERIALIZED CTEs (count + window
    * arg-max per round; `row_number` with the same (c DESC, lbl ASC)
    * order replays the engine's max(struct(c, -lbl)) exactly). */
  private def lpaOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
            SELECT n.node, l.lbl, count(*) AS c
            FROM nbr n JOIN l${i - 1} l ON n.nb = l.node
            GROUP BY n.node, l.lbl),
          l$i AS MATERIALIZED (
            SELECT node, lbl FROM (
              SELECT node, lbl, row_number() OVER (PARTITION BY node
                ORDER BY c DESC, lbl ASC) AS rn FROM c$i)
            WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH b3 AS (SELECT doc_id AS d FROM documents WHERE doc_id % 3 = 0),
        raw AS (
          SELECT d AS u, d + 1 AS v FROM b3
          UNION ALL SELECT d + 1, d + 2 FROM b3
          UNION ALL SELECT d, d + 2 FROM b3
          UNION ALL SELECT d + 2, d + 3 FROM b3
          UNION ALL SELECT doc_id, doc_id + 3 FROM documents
            WHERE doc_id % 15 = 0
          UNION ALL SELECT doc_id + 1, doc_id FROM documents
            WHERE doc_id % 6 = 0
          UNION ALL SELECT doc_id, doc_id FROM documents
            WHERE doc_id % 11 = 0),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
          FROM raw WHERE u <> v),
        nbr AS MATERIALIZED (
          SELECT u AS node, v AS nb FROM e0
          UNION ALL SELECT v, u FROM e0),
        l0 AS MATERIALIZED (
          SELECT DISTINCT node, node AS lbl FROM nbr),
        $steps
      SELECT node, lbl AS label FROM l$rounds"""
  }

  /** DuckDB replay of [[graft.ops.Graph.hits]] — `iters` iterations
    * (two half-steps each) unrolled as MATERIALIZED CTEs, L∞
    * renormalization via scalar-subquery max. */
  private def hitsOracle(iters: Int, scale: Long): String = {
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
            SELECT n.node, coalesce(t.raw, 0) AS raw FROM nodes n
            LEFT JOIN (SELECT e.v AS node, sum(h.s) AS raw
                       FROM e0 e JOIN h${i - 1} h ON e.u = h.node
                       GROUP BY e.v) t ON n.node = t.node),
          a$i AS MATERIALIZED (
            SELECT node, raw * $scale // (SELECT max(raw) FROM ar$i)
              AS s FROM ar$i),
          hr$i AS MATERIALIZED (
            SELECT n.node, coalesce(t.raw, 0) AS raw FROM nodes n
            LEFT JOIN (SELECT e.u AS node, sum(a.s) AS raw
                       FROM e0 e JOIN a$i a ON e.v = a.node
                       GROUP BY e.u) t ON n.node = t.node),
          h$i AS MATERIALIZED (
            SELECT node, raw * $scale // (SELECT max(raw) FROM hr$i)
              AS s FROM hr$i)"""
    }.mkString(",\n")
    s"""WITH b3 AS (SELECT doc_id AS d FROM documents WHERE doc_id % 3 = 0),
        raw AS (
          SELECT d AS u, d + 1 AS v FROM b3
          UNION ALL SELECT d + 1, d + 2 FROM b3
          UNION ALL SELECT d, d + 2 FROM b3
          UNION ALL SELECT d + 2, d + 3 FROM b3
          UNION ALL SELECT doc_id, doc_id + 3 FROM documents
            WHERE doc_id % 15 = 0
          UNION ALL SELECT doc_id + 1, doc_id FROM documents
            WHERE doc_id % 6 = 0
          UNION ALL SELECT doc_id, doc_id FROM documents
            WHERE doc_id % 11 = 0),
        e0 AS MATERIALIZED (
          SELECT DISTINCT u, v FROM raw WHERE u <> v),
        nodes AS MATERIALIZED (
          SELECT u AS node FROM e0 UNION SELECT v FROM e0),
        h0 AS MATERIALIZED (
          SELECT node, CAST($scale AS BIGINT) AS s FROM nodes),
        $rounds
      SELECT h$iters.node, CAST(h$iters.s AS BIGINT) AS hub_scaled,
             CAST(a$iters.s AS BIGINT) AS auth_scaled
      FROM h$iters JOIN a$iters ON h$iters.node = a$iters.node"""
  }

  /** DuckDB replay of [[graft.ops.Graph.kCorePeel]] — `rounds` peels
    * unrolled as MATERIALIZED CTEs (the bpeMerges lesson: each round
    * reads the previous twice for the semi-joins plus twice for the
    * degree union, so inlined CTEs re-derive exponentially). */
  private def kCoreOracle(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (
            SELECT n FROM (SELECT u AS n FROM e${i - 1}
                           UNION ALL SELECT v FROM e${i - 1})
            GROUP BY n HAVING count(*) >= $k),
          e$i AS MATERIALIZED (
            SELECT e.u, e.v FROM e${i - 1} e
            JOIN k$i a ON e.u = a.n JOIN k$i b ON e.v = b.n)"""
    }.mkString(",\n")
    s"""WITH b3 AS (SELECT doc_id AS d FROM documents WHERE doc_id % 3 = 0),
        d5 AS (SELECT doc_id AS d FROM documents WHERE doc_id % 5 = 0),
        raw AS (
          SELECT d AS u, d + 1 AS v FROM b3
          UNION ALL SELECT d + 1, d + 2 FROM b3
          UNION ALL SELECT d, d + 2 FROM b3
          UNION ALL SELECT d + 2, d + 3 FROM b3
          UNION ALL SELECT doc_id, doc_id + 3 FROM documents
            WHERE doc_id % 15 = 0
          UNION ALL SELECT doc_id + 1, doc_id FROM documents
            WHERE doc_id % 6 = 0
          UNION ALL SELECT doc_id, doc_id FROM documents
            WHERE doc_id % 11 = 0
          UNION ALL SELECT d, d + 1000000 FROM d5
          UNION ALL SELECT d + 1000000, d + 2000000 FROM d5
          UNION ALL SELECT d + 2000000, d + 3000000 FROM d5),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
          FROM raw WHERE u <> v),
        $peels
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM e$rounds
            UNION ALL SELECT v FROM e$rounds)
      GROUP BY node"""
  }

  /** Population Stability Index — the model-monitoring standard for
    * "has the score distribution drifted between training and
    * serving": the corpus halves (doc_id parity) play expected vs
    * actual, n_chars binned at fixed width 200 (the q165 band
    * convention), and per bin `psi_term = (p − q)·ln(p/q)` with
    * add-one smoothing over the UNION bin set (an empty bin on one
    * side is exactly where PSI blows up un-smoothed — planting decides
    * nothing the oracle doesn't replay). Counts exact int64; p, q and
    * the 6dp term are the single final float step (q186 posture).
    * Bin-grain output so the hash pins every term; the consumer sums
    * terms ≥ 0.2 ⇒ investigate, the classic rule.
    */
  def q223(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir)("documents").select(
      pmod(col("doc_id"), lit(2L)).as("h"),
      expr("n_chars div 200").as("bin"))
    val cells = d.groupBy(col("bin"))
      .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("n_exp"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("n_act"))
    val tot = cells.agg(sum(col("n_exp")).as("te"),
      sum(col("n_act")).as("ta"), count(lit(1)).as("nb"))
    cells.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_exp"), col("n_act"),
        round((((col("n_exp") + 1L).cast("double") /
          (col("te") + col("nb")).cast("double")) -
          ((col("n_act") + 1L).cast("double") /
            (col("ta") + col("nb")).cast("double"))) *
          log(((col("n_exp") + 1L).cast("double") /
            (col("te") + col("nb")).cast("double")) /
            ((col("n_act") + 1L).cast("double") /
              (col("ta") + col("nb")).cast("double"))), 6)
          .as("psi_term"))
  }

  /** Linear interpolation over the hourly spine — q107's OTHER fill
    * convention: forward-fill repeats the last observation (right for
    * state-like series); a flow-like series wants the straight line
    * between the neighbors, `interp = prev + (next − prev)·(h − hp)
    * div (hn − hp)` — integer division truncating toward zero on BOTH
    * engines (empirically pinned; see the inline note), so the filled
    * value is exact int64 with no float slope. prev/hp
    * ride one `last(ignoreNulls)` window ascending, next/hn the
    * mirrored `first` descending, both on the SAME event_type
    * exchange; observed hours pass through untouched, and the spine
    * spans each type's own [min, max] hour so edges always have both
    * neighbors. Corpus enters the hourly aggregate once; everything
    * else is spine-grain.
    */
  def q226(s: SparkSession, dir: String): DataFrame = {
    val hourly = events(s, dir)
      .select(col("event_type"),
        expr("(ts_ns div 1000) div 3600000000").as("hr"),
        cents(col("value")).as("__c"))
      .groupBy(col("event_type"), col("hr"))
      .agg(sum(col("__c")).as("rev"))
    val spine = hourly.groupBy(col("event_type"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("hr"))
    val wB = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // next-neighbor columns via `last` over the DESCENDING incremental
    // frame, NOT `first` over (0, unboundedFollowing): Spark's
    // UnboundedFollowing frame re-scans current→end per row — O(n²)
    // per partition, which the honest sf1 timeline (7 200-hour spine)
    // priced at ~9 s of the probe's 14 — while both unbounded-
    // PRECEDING frames update incrementally, O(n) plus one extra
    // spine-grain sort. Same semantics: first non-null at-or-after
    // ascending ≡ last non-null at-or-after descending.
    val wF = Window.partitionBy(col("event_type")).orderBy(col("hr").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    spine.join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("pv", last(col("rev"), ignoreNulls = true).over(wB))
      .withColumn("ph", last(when(col("rev").isNotNull, col("hr")),
        ignoreNulls = true).over(wB))
      .withColumn("nv", last(col("rev"), ignoreNulls = true).over(wF))
      .withColumn("nh", last(when(col("rev").isNotNull, col("hr")),
        ignoreNulls = true).over(wF))
      .select(col("event_type"), col("hr"),
        col("rev").isNull.as("was_gap"),
        // integer-division parity note: the numerator goes NEGATIVE on
        // every decreasing segment, so the rounding rule matters —
        // verified empirically that BOTH engines truncate toward zero
        // here (Spark `div` and DuckDB `//`: (-7)//2 = -3), so plain
        // div replays exactly; a floor-division engine would need the
        // pmod spelling
        when(col("rev").isNotNull, col("rev"))
          .otherwise(expr(
            "pv + (nv - pv) * (hr - ph) div (nh - ph)"))
          .as("rev_interp"))
  }

  /** Gaps-and-islands longest streak — "how many CONSECUTIVE days was
    * each user active": the classic island key `day − rank(day)` is
    * constant exactly within a run of consecutive days (both advance
    * by 1), so islands fall out of one distinct-day relation + one
    * user-keyed window, and the longest streak is the max island
    * size. The SCD2/span families use the same gaps-and-islands move
    * on intervals; this is its canonical day-grain form, user-grain
    * output. Corpus enters the user-day distinct once.
    */
  def q229(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .select(col("user_id"),
        expr("ts_ns div 1000 div 86400000000").as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val islands = ud
      .withColumn("isl", col("d") - row_number().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("len")).as("n_days"),
        max(col("len")).as("longest_streak"),
        count(lit(1)).as("n_islands"))
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q16_topk"          -> (q16 _),
    "q17_window_rownum" -> (q17 _),
    "q18_setops"        -> (q18 _),
    "q19_scalar_strdate" -> (q19 _),
    "q20_events_hourly" -> (q20 _),
    "q101_range_window" -> (q101 _),
    "q105_pivot"        -> (q105 _),
    "q106_grouping_sets" -> (q106 _),
    "q107_gap_fill"     -> (q107 _),
    "q112_unpivot"      -> (q112 _),
    "q31_sql_agg"       -> (q31 _),
    "q32_sql_join"      -> (q32 _),
    "q33_sql_window"    -> (q33 _),
    "q34_sessionize"    -> (q34 _),
    "q35_semi_anti"     -> (q35 _),
    "q36_outer_join"    -> (q36 _),
    "q37_approx_sketch" -> (q37 _),
    "q40_stats_agg"     -> (q40 _),
    "q41_json_extract"  -> (q41 _),
    "q42_cube"          -> (q42 _),
    "q43_asof_join"     -> (q43 _),
    "q44_range_join"    -> (q44 _),
    "q52_tpch_q3"       -> (q52 _),
    "q53_tpch_q5"       -> (q53 _),
    "q54_exists_subquery" -> (q54 _),
    "q56_sql_cross_corpus" -> (q56 _),
    "q119_recursive_cte" -> (q119 _),
    "q124_recursive_edge_join" -> (q124 _),
    "q125_lateral" -> (q125 _),
    "q127_setops_all" -> (q127 _),
    "q130_retention_cohorts" -> (q130 _),
    "q131_ansi_agg_window" -> (q131 _),
    "q135_hopping_window" -> (q135 _),
    "q136_rank_family" -> (q136 _),
    "q142_funnel_steps" -> (q142 _),
    "q144_group_by_all" -> (q144 _),
    "q153_ab_ztest" -> (q153 _),
    "q155_transition_matrix" -> (q155 _),
    "q158_sql_hof" -> (q158 _),
    "q160_growth_curve" -> (q160 _),
    "q163_join_hints" -> (q163 _),
    "q164_null_semantics" -> (q164 _),
    "q170_percentile_summary" -> (q170 _),
    "q171_rolling_actives" -> (q171 _),
    "q172_ewma_engagement" -> (q172 _),
    "q173_mad_outliers" -> (q173 _),
    "q178_seasonality" -> (q178 _),
    "q180_chi_square" -> (q180 _),
    "q185_session_paths" -> (q185 _),
    "q186_type_correlation" -> (q186 _),
    "q187_bag_set_ops" -> (q187 _),
    "q192_pareto_abc" -> (q192 _),
    "q193_reconciliation" -> (q193 _),
    "q196_daily_anomalies" -> (q196 _),
    "q197_growth_cumulative" -> (q197 _),
    "q198_session_baskets" -> (q198 _),
    "q199_skyline" -> (q199 _),
    "q200_ks_test" -> (q200 _),
    "q201_weighted_median" -> (q201 _),
    "q202_gini" -> (q202 _),
    "q203_trend_ols" -> (q203 _),
    "q204_benford" -> (q204 _),
    "q205_group_concat" -> (q205 _),
    "q206_argmax_parity" -> (q206 _),
    "q207_try_cast" -> (q207 _),
    "q209_wmedian_binned" -> (q209 _),
    "q210_mad_binned" -> (q210 _),
    "q213_cusum_drift" -> (q213 _),
    "q214_rfm_scores" -> (q214 _),
    "q215_conversion_lag" -> (q215 _),
    "q218_sketch_growth" -> (q218 _),
    "q219_skew_profile" -> (q219 _),
    "q220_source_entropy" -> (q220 _),
    "q221_nullsafe_join" -> (q221 _),
    "q222_triangles" -> (q222 _),
    "q293_degree_assortativity" -> (q293 _),
    "q280_link_prediction" -> (q280 _),
    "q281_link_prediction_audit" -> (q281 _),
    "q223_psi_drift" -> (q223 _),
    "q226_linear_interp" -> (q226 _),
    "q229_longest_streak" -> (q229 _),
    "q237_session_window" -> (q237 _),
    "q238_graph_health" -> (q238 _),
    "q242_autocorrelation" -> (q242 _),
    "q244_kcore_peel" -> (q244 _),
    "q247_hits" -> (q247 _),
    "q252_label_prop" -> (q252 _),
    "q255_attribution" -> (q255 _),
    "q256_attribution_audit" -> (q256 _),
    "q257_theil_sen" -> (q257 _),
    "q282_mann_kendall" -> (q282 _),
    "q269_robust_outliers" -> (q269 _),
    "q271_binned_quantiles" -> (q271 _),
    "q272_chi_square" -> (q272 _),
  )

  val oracleSql: Map[String, String] = Map(
    // gaps-and-islands: day - row_number island key, max island size
    "q229_longest_streak" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS d FROM events),
         isl AS (SELECT user_id,
             d - row_number() OVER (PARTITION BY user_id ORDER BY d)
               AS isl
           FROM ud),
         runs AS (SELECT user_id, isl, CAST(count(*) AS BIGINT) AS len
           FROM isl GROUP BY user_id, isl)
       SELECT user_id, CAST(sum(len) AS BIGINT) AS n_days,
              CAST(max(len) AS BIGINT) AS longest_streak,
              CAST(count(*) AS BIGINT) AS n_islands
       FROM runs GROUP BY user_id""",
    // linear interpolation: prev/next neighbors on the dense spine,
    // truncating integer slope — replayed with the same two windows
    "q226_linear_interp" ->
      """WITH hourly AS (SELECT event_type,
             epoch_us(ts) // 3600000000 AS hr,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS rev
           FROM events GROUP BY event_type, epoch_us(ts) // 3600000000),
         spine AS (SELECT event_type, unnest(range(lo, hi + 1)) AS hr
           FROM (SELECT event_type, min(hr) AS lo, max(hr) AS hi
                 FROM hourly GROUP BY event_type)),
         j AS (SELECT s.event_type, s.hr, h.rev
           FROM spine s LEFT JOIN hourly h
             ON h.event_type = s.event_type AND h.hr = s.hr),
         w AS (SELECT event_type, hr, rev,
             last_value(rev IGNORE NULLS) OVER (PARTITION BY event_type
               ORDER BY hr ROWS UNBOUNDED PRECEDING) AS pv,
             last_value(CASE WHEN rev IS NOT NULL THEN hr END
               IGNORE NULLS) OVER (PARTITION BY event_type
               ORDER BY hr ROWS UNBOUNDED PRECEDING) AS ph,
             first_value(rev IGNORE NULLS) OVER (PARTITION BY event_type
               ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED
               FOLLOWING) AS nv,
             first_value(CASE WHEN rev IS NOT NULL THEN hr END
               IGNORE NULLS) OVER (PARTITION BY event_type
               ORDER BY hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED
               FOLLOWING) AS nh
           FROM j)
       SELECT event_type, hr, rev IS NULL AS was_gap,
              CAST(CASE WHEN rev IS NOT NULL THEN rev
                ELSE pv + CAST((nv - pv) * (hr - ph) AS BIGINT)
                  // (nh - ph) END AS BIGINT) AS rev_interp
       FROM w""",
    // null-safe join: IS NOT DISTINCT FROM, the NULL key is a class
    "q221_nullsafe_join" ->
      """WITH d AS (SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE (doc_id // 2) % 50 END AS k FROM documents),
         a AS (SELECT k, doc_id AS id_a FROM d WHERE doc_id % 2 = 0),
         b AS (SELECT k AS kb, doc_id AS id_b FROM d WHERE doc_id % 2 = 1)
       SELECT a.k, CAST(count(*) AS BIGINT) AS n_pairs,
              min(a.id_a) AS min_a, max(b.id_b) AS max_b
       FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.kb
       GROUP BY a.k""",
    // triangles: planting + symmetrize/dedup + canonical a<b<c 3-way
    "q222_triangles" ->
      """WITH b3 AS (SELECT doc_id AS d FROM documents WHERE doc_id % 3 = 0),
         raw AS (
           SELECT d AS u, d + 1 AS v FROM b3
           UNION ALL SELECT d + 1, d + 2 FROM b3
           UNION ALL SELECT d, d + 2 FROM b3
           UNION ALL SELECT d + 2, d + 3 FROM b3
           UNION ALL SELECT doc_id, doc_id + 3 FROM documents
             WHERE doc_id % 15 = 0
           UNION ALL SELECT doc_id + 1, doc_id FROM documents
             WHERE doc_id % 6 = 0
           UNION ALL SELECT doc_id, doc_id FROM documents
             WHERE doc_id % 11 = 0),
         e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
           FROM raw WHERE u <> v)
       SELECT e1.u AS n_a, e1.v AS n_b, e2.v AS n_c
       FROM e e1 JOIN e e2 ON e1.v = e2.u
       JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v""",
    // assortativity: same planted edges; degrees, the four int64 sums
    // and the one double division replayed (CASTs per the widening
    // audit; the division replays Spark's cast-then-round exactly)
    "q293_degree_assortativity" ->
      """WITH b3 AS (SELECT doc_id AS d FROM documents WHERE doc_id % 3 = 0),
         raw AS (
           SELECT d AS u, d + 1 AS v FROM b3
           UNION ALL SELECT d + 1, d + 2 FROM b3
           UNION ALL SELECT d, d + 2 FROM b3
           UNION ALL SELECT d + 2, d + 3 FROM b3
           UNION ALL SELECT doc_id, doc_id + 3 FROM documents
             WHERE doc_id % 15 = 0
           UNION ALL SELECT doc_id + 1, doc_id FROM documents
             WHERE doc_id % 6 = 0
           UNION ALL SELECT doc_id, doc_id FROM documents
             WHERE doc_id % 11 = 0),
         e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
           FROM raw WHERE u <> v),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
           GROUP BY n),
         j AS (SELECT a.d AS du, b.d AS dv
           FROM e JOIN deg a ON a.n = e.u JOIN deg b ON b.n = e.v),
         st AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
             CAST(sum(du + dv) AS BIGINT) AS s_x,
             CAST(2 * sum(du * dv) AS BIGINT) AS s_xy,
             CAST(sum(du * du + dv * dv) AS BIGINT) AS s_xx
           FROM j)
       SELECT n_edges, s_x, s_xy, s_xx,
              CASE WHEN 2 * n_edges * s_xx - s_x * s_x = 0 THEN NULL
                   ELSE round(
                     CAST(2 * n_edges * s_xy - s_x * s_x AS DOUBLE) /
                     CAST(2 * n_edges * s_xx - s_x * s_x AS DOUBLE), 4)
              END AS assortativity
       FROM st""",
    // link prediction: same planted edges, full adjacency wedge
    // self-join, true-degree RA terms, non-edge anti-join
    "q280_link_prediction" ->
      """WITH b3 AS (SELECT doc_id AS d FROM documents WHERE doc_id % 3 = 0),
         raw AS (
           SELECT d AS u, d + 1 AS v FROM b3
           UNION ALL SELECT d + 1, d + 2 FROM b3
           UNION ALL SELECT d, d + 2 FROM b3
           UNION ALL SELECT d + 2, d + 3 FROM b3
           UNION ALL SELECT doc_id, doc_id + 3 FROM documents
             WHERE doc_id % 15 = 0
           UNION ALL SELECT doc_id + 1, doc_id FROM documents
             WHERE doc_id % 6 = 0
           UNION ALL SELECT doc_id, doc_id FROM documents
             WHERE doc_id % 11 = 0),
         e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
           FROM raw WHERE u <> v),
         adj AS (SELECT u AS z, v AS nb FROM e
                 UNION ALL SELECT v, u FROM e),
         deg AS (SELECT z, count(*) AS d FROM adj GROUP BY 1),
         w AS (SELECT a1.z, a1.nb AS a, a2.nb AS b
               FROM adj a1 JOIN adj a2
                 ON a1.z = a2.z AND a1.nb < a2.nb),
         sc AS (SELECT a, b, count(*) AS cn, sum(10000 // d) AS ra
                FROM w JOIN deg USING (z) GROUP BY 1, 2)
       SELECT sc.a AS id_a, sc.b AS id_b,
              CAST(cn AS BIGINT) AS common_neighbors,
              CAST(ra AS BIGINT) AS ra_bp
       FROM sc LEFT JOIN e ON e.u = sc.a AND e.v = sc.b
       WHERE e.u IS NULL""",
    // link-prediction audit: over-cap hubs with true degree
    "q281_link_prediction_audit" ->
      """WITH b3 AS (SELECT doc_id AS d FROM documents WHERE doc_id % 3 = 0),
         raw AS (
           SELECT d AS u, d + 1 AS v FROM b3
           UNION ALL SELECT d + 1, d + 2 FROM b3
           UNION ALL SELECT d, d + 2 FROM b3
           UNION ALL SELECT d + 2, d + 3 FROM b3
           UNION ALL SELECT doc_id, doc_id + 3 FROM documents
             WHERE doc_id % 15 = 0
           UNION ALL SELECT doc_id + 1, doc_id FROM documents
             WHERE doc_id % 6 = 0
           UNION ALL SELECT doc_id, doc_id FROM documents
             WHERE doc_id % 11 = 0),
         e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
           FROM raw WHERE u <> v),
         adj AS (SELECT u AS z, v AS nb FROM e
                 UNION ALL SELECT v, u FROM e)
       SELECT z AS node, CAST(count(*) AS BIGINT) AS degree
       FROM adj GROUP BY z HAVING count(*) > 2""",
    // native session_window: the oracle replays the gap rule (new
    // session when diff > gap — Spark merges touching windows, pinned
    // empirically), start = min ts, end = last ts + gap, exact micros
    "q237_session_window" ->
      """WITH g AS (
           SELECT user_id, epoch_us(ts) AS us,
                  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
                       WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                            > 1800000000 THEN 1
                       ELSE 0 END AS is_new
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (
           SELECT user_id, us,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY us
                    ROWS UNBOUNDED PRECEDING) AS sess
           FROM g)
       SELECT user_id, min(us) AS start_us,
              max(us) + 1800000000 AS end_us,
              CAST(count(*) AS BIGINT) AS n_events
       FROM s GROUP BY user_id, sess""",
    // per-node graph health: same planting, naive per-corner triangle
    // credit + integer clustering coefficient
    "q238_graph_health" ->
      """WITH b3 AS (SELECT doc_id AS d FROM documents WHERE doc_id % 3 = 0),
         raw AS (
           SELECT d AS u, d + 1 AS v FROM b3
           UNION ALL SELECT d + 1, d + 2 FROM b3
           UNION ALL SELECT d, d + 2 FROM b3
           UNION ALL SELECT d + 2, d + 3 FROM b3
           UNION ALL SELECT doc_id, doc_id + 3 FROM documents
             WHERE doc_id % 15 = 0
           UNION ALL SELECT doc_id + 1, doc_id FROM documents
             WHERE doc_id % 6 = 0
           UNION ALL SELECT doc_id, doc_id FROM documents
             WHERE doc_id % 11 = 0),
         e AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
           FROM raw WHERE u <> v),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
           GROUP BY n),
         tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
           FROM e e1 JOIN e e2 ON e1.v = e2.u
           JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         tn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
           FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
                 UNION ALL SELECT c FROM tri)
           GROUP BY node)
       SELECT deg.n AS node, deg.d,
              CAST(COALESCE(tn.n_tri, 0) AS BIGINT) AS n_tri,
              CAST(CASE WHEN deg.d >= 2 THEN
                  (20000 * COALESCE(tn.n_tri, 0)) // (deg.d * (deg.d - 1))
                ELSE 0 END AS BIGINT) AS cc_bp
       FROM deg LEFT JOIN tn ON tn.node = deg.n""",
    // k-core peel: 6 rounds unrolled as materialized CTEs over the
    // tendril-extended q222 planting; the engine's early exit must be
    // residual-identical to the full unroll
    "q244_kcore_peel" -> kCoreOracle(k = 2, rounds = 6),
    // HITS: six half-steps unrolled, L∞ renorm divisions replayed
    "q247_hits" -> hitsOracle(iters = 3, scale = 1000000L),
    // label propagation: 4 synchronous rounds unrolled, arg-max with
    // the (count DESC, label ASC) tie replayed per round
    "q252_label_prop" -> lpaOracle(rounds = 4),
    // attribution: strict-before 7-day window join, both ranking
    // windows and the truncating credit arithmetic replayed
    "q255_attribution" ->
      """WITH ev AS (SELECT user_id AS u, epoch_us(ts) AS us,
             event_id AS eid, event_type AS ty FROM events),
         tn AS (SELECT u, us, eid, ty,
             count(*) OVER (PARTITION BY u) AS n
           FROM ev WHERE ty IN ('click', 'view')),
         tch AS (SELECT u, us, eid, ty FROM tn WHERE n <= 200),
         conv AS (SELECT u, us AS cus, eid AS conv_id FROM ev
                  WHERE ty = 'purchase'),
         j AS (SELECT c.u, c.conv_id, t.eid AS touch_id,
                 t.ty AS touch_type, t.us AS tus
           FROM conv c JOIN tch t ON t.u = c.u
             AND t.us < c.cus AND t.us >= c.cus - 604800000000),
         p AS (SELECT u, conv_id, touch_id, touch_type,
                 row_number() OVER (PARTITION BY conv_id
                   ORDER BY tus, touch_id) AS pos,
                 count(*) OVER (PARTITION BY conv_id) AS n
               FROM j)
       SELECT u AS user_id, conv_id, touch_id, touch_type,
              CAST(pos AS BIGINT) AS pos, CAST(n AS BIGINT) AS n_touches,
              CAST(CASE WHEN pos = 1 THEN 10000 ELSE 0 END AS BIGINT)
                AS first_bp,
              CAST(CASE WHEN pos = n THEN 10000 ELSE 0 END AS BIGINT)
                AS last_bp,
              CAST(10000 // n + CASE WHEN pos = n
                  THEN 10000 - n * (10000 // n) ELSE 0 END AS BIGINT)
                AS linear_bp
       FROM p""",
    // attribution audit: over-cap users with their touch counts
    "q256_attribution_audit" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_touches
       FROM events WHERE event_type IN ('click', 'view')
       GROUP BY user_id HAVING count(*) > 20""",
    // binned quantiles: cumulative window + ceiling nearest-rank +
    // lower-edge mapping, bin grain. Binning replays the engine's FLOOR
    // division explicitly ((c - pmod(c, w)) // w) — DuckDB's bare `//`
    // truncates toward zero and would disagree on negative cents
    // (r17 advice; fixture cents are non-negative, values unchanged).
    "q271_binned_quantiles" ->
      """WITH v AS (SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS c FROM events),
         e AS (SELECT event_type,
             (c - ((c % 1000) + 1000) % 1000) // 1000 AS bin FROM v),
         h AS (SELECT event_type, bin, count(*) AS n
               FROM e GROUP BY 1, 2),
         c AS (SELECT event_type, bin, n,
               sum(n) OVER (PARTITION BY event_type ORDER BY bin)
                 AS cum,
               sum(n) OVER (PARTITION BY event_type) AS tot FROM h),
         q AS (SELECT unnest([5000, 9000, 9900]) AS q_bp)
       SELECT event_type, CAST(q_bp AS BIGINT) AS q_bp,
              CAST(tot AS BIGINT) AS n,
              CAST(bin * 1000 AS BIGINT) AS value_lo
       FROM c CROSS JOIN q
       WHERE (cum - n) < (q_bp * tot + 9999) // 10000
         AND (q_bp * tot + 9999) // 10000 <= cum""",
    // chi-square 2x2: exact cells + the fixed-order double statistic
    "q272_chi_square" ->
      """WITH u AS (SELECT user_id,
             max(CAST(round(value * 100) AS BIGINT)) AS mx
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         t AS (SELECT (user_id % 2 = 0) AS g, (mx % 10 < 5) AS o
               FROM u),
         cells AS (SELECT count(*) AS n,
             count(*) FILTER (WHERE g AND o) AS a,
             count(*) FILTER (WHERE g AND NOT o) AS b,
             count(*) FILTER (WHERE NOT g AND o) AS c,
             count(*) FILTER (WHERE NOT g AND NOT o) AS d FROM t)
       SELECT CAST(n AS BIGINT) AS n, CAST(a AS BIGINT) AS n_tt,
              CAST(b AS BIGINT) AS n_tf, CAST(c AS BIGINT) AS n_ft,
              CAST(d AS BIGINT) AS n_ff,
              CASE WHEN a + b > 0 AND c + d > 0
                    AND a + c > 0 AND b + d > 0 THEN
                round(CAST(n AS DOUBLE) *
                  (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) *
                  (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                    - CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) /
                  ((CAST(a AS DOUBLE) + CAST(b AS DOUBLE)) *
                   (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)) *
                   (CAST(a AS DOUBLE) + CAST(c AS DOUBLE)) *
                   (CAST(b AS DOUBLE) + CAST(d AS DOUBLE))), 6)
              END AS chi2
       FROM cells""",
    // robust outliers: two lower medians + the 6745/35000 integer
    // predicate, observed (type, day) grain
    "q269_robust_outliers" ->
      """WITH d AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS day,
             count(*) + CASE WHEN (epoch_us(ts) // 86400000000) % 30 = 7
               THEN 100000 ELSE 0 END AS n_events
           FROM events GROUP BY 1, epoch_us(ts) // 86400000000),
         md AS (SELECT event_type, n_events AS med FROM (
             SELECT event_type, n_events,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY n_events) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n FROM d) x
           WHERE rn = (n + 1) // 2),
         ad AS (SELECT d.event_type, abs(d.n_events - md.med) AS adv
               FROM d JOIN md USING (event_type)),
         md2 AS (SELECT event_type, adv AS mad FROM (
             SELECT event_type, adv,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY adv) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n FROM ad) x
           WHERE rn = (n + 1) // 2)
       SELECT d.event_type, CAST(day AS BIGINT) AS day,
              CAST(n_events AS BIGINT) AS n_events,
              CAST(med AS BIGINT) AS med, CAST(mad AS BIGINT) AS mad,
              CAST(CASE WHEN mad > 0
                THEN 6745 * (n_events - med) // mad END AS BIGINT)
                AS mz_bp,
              CASE WHEN mad > 0
                THEN abs(6745 * (n_events - med)) > 35000 * mad
                ELSE n_events <> med END AS is_outlier
       FROM d JOIN md USING (event_type) JOIN md2 USING (event_type)""",
    // Theil–Sen: zero-filled day grid, all pairwise truncating integer
    // slopes, LOWER median twice (slope, then residual intercept)
    "q257_theil_sen" ->
      """WITH e AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS d FROM events),
         counts AS (SELECT event_type, d, count(*) AS n
                    FROM e GROUP BY 1, 2),
         b AS (SELECT min(d) AS d0 FROM e),
         grid AS (SELECT t.event_type,
                 dd.d - (SELECT d0 FROM b) AS x,
                 CAST(coalesce(c.n, 0) AS BIGINT) AS y
           FROM (SELECT DISTINCT d FROM e) dd
           CROSS JOIN (SELECT DISTINCT event_type FROM e) t
           LEFT JOIN counts c
             ON c.event_type = t.event_type AND c.d = dd.d),
         pr AS (SELECT a.event_type,
                 (b2.y - a.y) * 1000000 // (b2.x - a.x) AS sm
           FROM grid a JOIN grid b2
             ON a.event_type = b2.event_type AND a.x < b2.x),
         ps AS (SELECT event_type, sm,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY sm) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS np
               FROM pr),
         sl AS (SELECT event_type, sm AS slope_micro, np FROM ps
                WHERE rn = (np + 1) // 2),
         res AS (SELECT g.event_type, s.np, s.slope_micro,
                 g.y * 1000000 - s.slope_micro * g.x AS r
           FROM grid g JOIN sl s USING (event_type)),
         rs AS (SELECT event_type, np, slope_micro, r,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY r) AS rn,
                 count(*) OVER (PARTITION BY event_type) AS nd
               FROM res)
       SELECT event_type, CAST(nd AS BIGINT) AS n_days,
              CAST(np AS BIGINT) AS n_pairs,
              CAST(slope_micro AS BIGINT) AS slope_micro,
              CAST(r AS BIGINT) AS intercept_micro
       FROM rs WHERE rn = (nd + 1) // 2""",
    // Mann-Kendall: same zero-filled grid, pair sign counts, value-
    // grain tie groups, exact x18 variance; truncating tau div (both
    // engines truncate negative quotients toward zero — the q226 pin)
    "q282_mann_kendall" ->
      """WITH e AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS d FROM events),
         counts AS (SELECT event_type, d, count(*) AS n
                    FROM e GROUP BY 1, 2),
         b AS (SELECT min(d) AS d0 FROM e),
         grid AS (SELECT t.event_type,
                 dd.d - (SELECT d0 FROM b) AS x,
                 CAST(coalesce(c.n, 0) AS BIGINT) AS y
           FROM (SELECT DISTINCT d FROM e) dd
           CROSS JOIN (SELECT DISTINCT event_type FROM e) t
           LEFT JOIN counts c
             ON c.event_type = t.event_type AND c.d = dd.d),
         pp AS (SELECT a.event_type, count(*) AS np,
                 sum(CASE WHEN b2.y > a.y THEN 1 ELSE 0 END) AS c,
                 sum(CASE WHEN b2.y < a.y THEN 1 ELSE 0 END) AS disc
           FROM grid a JOIN grid b2
             ON a.event_type = b2.event_type AND a.x < b2.x
           GROUP BY 1),
         tg AS (SELECT event_type, y, count(*) AS t
                FROM grid GROUP BY 1, 2),
         tt AS (SELECT event_type, sum(t) AS nd,
                 sum(t * (t - 1) * (t * 2 + 5)) AS tie18
               FROM tg GROUP BY 1)
       SELECT p.event_type, CAST(nd AS BIGINT) AS n_days,
              CAST(np AS BIGINT) AS n_pairs,
              CAST(c - disc AS BIGINT) AS s_stat,
              CAST(np - c - disc AS BIGINT) AS n_tied_pairs,
              CAST((c - disc) * 10000 // np AS BIGINT) AS tau_a_bp,
              CAST(nd * (nd - 1) * (nd * 2 + 5) - tie18 AS BIGINT)
                AS var18
       FROM pp p JOIN tt USING (event_type)""",
    // autocorrelation: zero-filled day spine, n²-scaled integer
    // deviations, truncating div on the 10⁴-scaled report (q226 pin)
    "q242_autocorrelation" ->
      """WITH daily AS (
           SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS dnum,
                  CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1),
         b AS (SELECT min(dnum) AS d0, max(dnum) - min(dnum) AS span
           FROM daily),
         spine AS (SELECT unnest(range(0, span + 1)) AS t FROM b),
         x AS (SELECT s.t, CAST(coalesce(d.n, 0) AS BIGINT) AS x
           FROM spine s LEFT JOIN
             (SELECT dnum - (SELECT d0 FROM b) AS t, n FROM daily) d
             ON s.t = d.t),
         st AS (SELECT CAST(count(*) AS BIGINT) AS nn,
                       CAST(sum(x) AS BIGINT) AS sx FROM x),
         dev AS (SELECT t, nn * x - sx AS d FROM x, st),
         den AS (SELECT sum(d * d) AS den FROM dev),
         lags AS (SELECT unnest(range(1, 8)) AS lag),
         num AS (
           SELECT l.lag, sum(c.d * p.d) AS num
           FROM lags l JOIN dev c ON c.t >= l.lag
           JOIN dev p ON p.t = c.t - l.lag
           GROUP BY l.lag)
       SELECT CAST(n.lag AS BIGINT) AS lag,
              (SELECT nn FROM st) AS n_days,
              CAST(10000 * n.num // d.den AS BIGINT) AS acf_bp
       FROM num n, den d""",
    // PSI: exact cells, add-one smoothing over the union bin set, one
    // 6dp double term per bin
    "q223_psi_drift" ->
      """WITH d AS (SELECT doc_id % 2 AS h, n_chars // 200 AS bin
           FROM documents),
         cells AS (SELECT bin,
             CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exp,
             CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_act
           FROM d GROUP BY bin),
         tot AS (SELECT CAST(sum(n_exp) AS BIGINT) AS te,
                        CAST(sum(n_act) AS BIGINT) AS ta,
                        CAST(count(*) AS BIGINT) AS nb FROM cells)
       SELECT bin, n_exp, n_act,
              round((CAST(n_exp + 1 AS DOUBLE) / CAST(te + nb AS DOUBLE)
                - CAST(n_act + 1 AS DOUBLE) / CAST(ta + nb AS DOUBLE))
                * ln((CAST(n_exp + 1 AS DOUBLE) / CAST(te + nb AS DOUBLE))
                  / (CAST(n_act + 1 AS DOUBLE) / CAST(ta + nb AS DOUBLE))),
                6) AS psi_term
       FROM cells CROSS JOIN tot""",
    // sketch growth: the q45 estimator posture — oracle replays the
    // EXACT cumulative-distinct side and pins within_tol TRUE
    "q218_sketch_growth" ->
      """WITH e AS (SELECT user_id,
             epoch_us(ts) // 86400000000 AS d FROM events),
         fd AS (SELECT user_id, min(d) AS fd FROM e GROUP BY user_id),
         nu AS (SELECT fd AS d, CAST(count(*) AS BIGINT) AS nu
           FROM fd GROUP BY fd),
         days AS (SELECT DISTINCT d FROM e)
       SELECT days.d AS day,
              CAST(sum(COALESCE(nu.nu, 0)) OVER (ORDER BY days.d
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS exact_cum,
              TRUE AS within_tol
       FROM days LEFT JOIN nu ON nu.d = days.d""",
    // skew profile: exact top-10 by (n desc, key asc), share in bp
    "q219_skew_profile" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY user_id),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS t,
                      CAST(count(*) AS BIGINT) AS k FROM c)
       SELECT c.user_id, c.n,
              CAST(c.n * 10000 * t.k // t.t AS BIGINT) AS share_bp
       FROM c CROSS JOIN t
       ORDER BY c.n DESC, c.user_id LIMIT 10""",
    // entropy: exact cells, one 4dp double expression
    "q220_source_entropy" ->
      """WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT)
             AS c FROM documents GROUP BY source, lang)
       SELECT source, CAST(sum(c) AS BIGINT) AS n,
              CAST(count(*) AS BIGINT) AS n_langs,
              round(ln(CAST(sum(c) AS DOUBLE)) -
                sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                  / CAST(sum(c) AS DOUBLE), 4) AS entropy
       FROM cells GROUP BY source""",
    // CUSUM: closed form cum - min(0, running-min cum) over the grid,
    // integer deviations n*D - T
    "q213_cusum_drift" ->
      """WITH e AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS d FROM events),
         counts AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY event_type, d),
         grid AS (SELECT t.event_type, days.d, COALESCE(c.n, 0) AS n
           FROM (SELECT DISTINCT d FROM e) days
           CROSS JOIN (SELECT DISTINCT event_type FROM e) t
           LEFT JOIN counts c ON c.event_type = t.event_type
             AND c.d = days.d),
         g AS (SELECT event_type, d, n,
             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS t,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
           FROM grid),
         cs AS (SELECT event_type, d, n, t,
             CAST(sum(n * nd - t) OVER (PARTITION BY event_type
               ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM g),
         s AS (SELECT event_type, d, n, t, cum,
             cum - least(CAST(0 AS BIGINT), min(cum) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS UNBOUNDED PRECEDING)) AS s_num
           FROM cs)
       SELECT event_type, d AS day, n, CAST(s_num AS BIGINT) AS s_num,
              s_num > t * 2 AS alarm
       FROM s""",
    // RFM: user-grain aggregate, ntile-free integer quintile rule
    "q214_rfm_scores" ->
      """WITH u AS (SELECT user_id,
             max(epoch_us(ts) // 86400000000) AS r_day,
             CAST(count(*) AS BIGINT) AS f,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS m_c
           FROM events GROUP BY user_id),
         r AS (SELECT *,
             CAST(count(*) OVER () AS BIGINT) AS n_u,
             row_number() OVER (ORDER BY r_day, user_id) AS rank_r,
             row_number() OVER (ORDER BY f, user_id) AS rank_f,
             row_number() OVER (ORDER BY m_c, user_id) AS rank_m
           FROM u)
       SELECT user_id, r_day, f, m_c,
              CAST((rank_r - 1) * 5 // n_u + 1 AS BIGINT) AS r_q,
              CAST((rank_f - 1) * 5 // n_u + 1 AS BIGINT) AS f_q,
              CAST((rank_m - 1) * 5 // n_u + 1 AS BIGINT) AS m_q,
              CAST(((rank_r - 1) * 5 // n_u + 1) * 100
                + ((rank_f - 1) * 5 // n_u + 1) * 10
                + ((rank_m - 1) * 5 // n_u + 1) AS BIGINT) AS rfm_code
       FROM r""",
    // conversion lag: first view, first purchase at/after it, exact
    // integer microsecond difference; non-converts keep NULLs
    "q215_conversion_lag" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
           FROM events),
         fv AS (SELECT user_id, min(us) AS first_view_us FROM e
           WHERE event_type = 'view' GROUP BY user_id),
         fp AS (SELECT e.user_id, min(e.us) AS first_purchase_us
           FROM e JOIN fv ON e.user_id = fv.user_id
           WHERE e.event_type = 'purchase' AND e.us >= fv.first_view_us
           GROUP BY e.user_id)
       SELECT fv.user_id, fv.first_view_us, fp.first_purchase_us,
              fp.first_purchase_us - fv.first_view_us AS lag_us
       FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id""",
    // rolling actives: user-day dedup -> 7-day coverage explosion ->
    // distinct count per occurring day; integer epoch days
    "q171_rolling_actives" ->
      """WITH ud AS (SELECT DISTINCT user_id,
             epoch_us(ts) // 86400000000 AS d FROM events),
         days AS (SELECT DISTINCT d FROM ud),
         dau AS (SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
           FROM ud GROUP BY d),
         cover AS (SELECT ud.user_id, ud.d + x.x AS rd
           FROM ud, (SELECT unnest(range(0, 7)) AS x) x),
         wau AS (SELECT c.rd, CAST(count(DISTINCT c.user_id) AS BIGINT)
               AS wau
           FROM cover c JOIN days ON days.d = c.rd GROUP BY c.rd)
       SELECT dau.d AS day, dau.dau, wau.wau,
              round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 4)
                AS stickiness
       FROM dau JOIN wau ON wau.rd = dau.d""",
    // dyadic EWMA: newest-first rank, K = min(n, 16), integer
    // power-of-two dot product, exact numerator + 4dp decimal
    "q172_ewma_engagement" ->
      """WITH e AS (SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS c,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n
           FROM events),
         k AS (SELECT user_id, event_id, c, rn,
             CASE WHEN n > 16 THEN 16 ELSE n END AS k FROM e),
         w AS (SELECT user_id, k, c,
             CASE WHEN rn = k THEN CAST(1 AS BIGINT)
                  ELSE CAST(1 AS BIGINT) << CAST(k - 1 - rn AS INT)
             END AS coef
           FROM k WHERE rn <= k)
       SELECT user_id, CAST(max(k) AS BIGINT) AS n_used,
              CAST(sum(c * coef) AS BIGINT) AS ewma_num,
              CAST(max(k) - 1 AS BIGINT) AS ewma_shift,
              round(CAST(sum(c * coef) AS DOUBLE)
                / (2 ** CAST(max(k) - 1 AS DOUBLE)), 4) AS ewma
       FROM w GROUP BY user_id""",
    // median/MAD outliers: exact order statistics in scaled-integer
    // space (med2 = 2·median, m2d = 4·MAD), cross-multiplied flag
    "q173_mad_outliers" ->
      """WITH e AS (SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS c FROM events),
         r AS (SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type
               ORDER BY c, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM e),
         med AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN c ELSE 0 END)
               + sum(CASE WHEN rn = n // 2 + 1 THEN c ELSE 0 END)
               AS BIGINT) AS med2
           FROM r GROUP BY event_type),
         dv AS (SELECT e.event_type, e.event_id, med.n, med.med2,
             abs(e.c * 2 - med.med2) AS d2
           FROM e JOIN med ON med.event_type = e.event_type),
         rd AS (SELECT event_type, n, d2,
             row_number() OVER (PARTITION BY event_type
               ORDER BY d2, event_id) AS rn
           FROM dv),
         mad AS (SELECT event_type,
             CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN d2 ELSE 0 END)
               + sum(CASE WHEN rn = n // 2 + 1 THEN d2 ELSE 0 END)
               AS BIGINT) AS m2d
           FROM rd GROUP BY event_type)
       SELECT dv.event_type, CAST(max(dv.n) AS BIGINT) AS n,
              max(dv.med2) AS med2, max(mad.m2d) AS m2d,
              CAST(count(CASE WHEN dv.d2 * 2 > mad.m2d * 3 THEN 1 END)
                AS BIGINT) AS n_outliers,
              max(dv.d2) AS max_d2
       FROM dv JOIN mad ON mad.event_type = dv.event_type
       GROUP BY dv.event_type""",
    // ordered group concat: sorted-before-join, engine-agnostic string
    "q205_group_concat" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
              string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
       FROM documents GROUP BY source""",
    // argmax parity: struct orderer on the Spark side (scale-safe, no
    // 10^6 id bound); DuckDB max_by can't take a struct, so the oracle
    // replays the identical semantics as max(c) -> equi-join -> max(id)
    "q206_argmax_parity" ->
      """WITH e AS (SELECT event_type, event_id,
             CAST(round(value * 100) AS BIGINT) AS c FROM events),
         g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      max(c) AS mxc, min(c) AS mnc
               FROM e GROUP BY event_type)
       SELECT g.event_type, g.n,
              (SELECT max(event_id) FROM e
                WHERE e.event_type = g.event_type AND e.c = g.mxc)
                AS max_spend_event,
              (SELECT min(event_id) FROM e
                WHERE e.event_type = g.event_type AND e.c = g.mnc)
                AS min_spend_event
       FROM g""",
    // try_cast: integer-string patterns where engines provably agree
    "q207_try_cast" ->
      """WITH d AS (SELECT doc_id % 6 AS pattern,
             CASE doc_id % 6
               WHEN 0 THEN CAST(doc_id AS VARCHAR)
               WHEN 1 THEN '  ' || CAST(doc_id AS VARCHAR) || ' '
               WHEN 2 THEN CAST(doc_id AS VARCHAR) || 'x'
               WHEN 3 THEN ''
               WHEN 4 THEN '99999999999999999999'
               ELSE '-' || CAST(doc_id AS VARCHAR) END AS s
           FROM documents),
         v AS (SELECT CAST(pattern AS INT) AS pattern,
             try_cast(s AS BIGINT) AS v FROM d)
       SELECT pattern, CAST(count(*) AS BIGINT) AS n,
              CAST(count(v) AS BIGINT) AS n_parsed,
              CAST(sum(v) AS BIGINT) AS sum_v
       FROM v GROUP BY pattern""",
    // weighted median: doubled cumulative weight reaches total, first
    // qualifying value per group
    "q201_weighted_median" ->
      """WITH li AS (SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
           FROM lineitem),
         c AS (SELECT *,
             sum(w) OVER (PARTITION BY l_returnflag
               ORDER BY price_c, l_orderkey, l_linenumber
               ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(w) OVER (PARTITION BY l_returnflag) AS totw
           FROM li),
         f AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
               ORDER BY price_c, l_orderkey, l_linenumber) AS rn
           FROM c WHERE cumw * 2 >= totw)
       SELECT l_returnflag, CAST(totw AS BIGINT) AS totw,
              price_c AS wmedian_c
       FROM f WHERE rn = 1""",
    // binned weighted median: $100 integer bins, bin-grain cumulative
    // window — the deterministic approx path replayed bit-for-bit.
    // Floor binning replayed explicitly (engine binOf floors; DuckDB
    // `//` truncates — differs on negative cents).
    "q209_wmedian_binned" ->
      """WITH li0 AS (SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS c,
             CAST(l_quantity AS BIGINT) AS w FROM lineitem),
         li AS (SELECT l_returnflag,
             (c - ((c % 10000) + 10000) % 10000) // 10000 AS bin, w
           FROM li0),
         h AS (SELECT l_returnflag, bin, sum(w) AS bw
           FROM li GROUP BY l_returnflag, bin),
         c AS (SELECT l_returnflag, bin, bw,
             sum(bw) OVER (PARTITION BY l_returnflag ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS cumw,
             sum(bw) OVER (PARTITION BY l_returnflag) AS totw FROM h),
         f AS (SELECT *, row_number() OVER (PARTITION BY l_returnflag
               ORDER BY bin) AS rn
           FROM c WHERE cumw * 2 >= totw)
       SELECT l_returnflag, CAST(totw AS BIGINT) AS totw, bin,
              CAST(bin * 10000 AS BIGINT) AS wmed_lo_c,
              CAST((bin + 1) * 10000 - 1 AS BIGINT) AS wmed_hi_c
       FROM f WHERE rn = 1""",
    // binned median/MAD: one corpus aggregate, bin-grain everything
    // else — the histogram replayed through both weighted medians.
    // Floor binning replayed explicitly (engine binOf floors; DuckDB
    // `//` truncates — differs on negative cents).
    "q210_mad_binned" ->
      """WITH v AS (SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS c FROM events),
         e AS (SELECT event_type,
             (c - ((c % 1000) + 1000) % 1000) // 1000 AS bin FROM v),
         h AS (SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY event_type, bin),
         c AS (SELECT event_type, bin, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bin
               ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER (PARTITION BY event_type) AS tot FROM h),
         m AS (SELECT event_type, tot, bin AS mbin, row_number() OVER (
               PARTITION BY event_type ORDER BY bin) AS rn
           FROM c WHERE cum * 2 >= tot),
         m1 AS (SELECT event_type, CAST(tot AS BIGINT) AS tot, mbin
           FROM m WHERE rn = 1),
         d AS (SELECT h.event_type, h.bin, h.n, m1.tot, m1.mbin,
             abs(h.bin - m1.mbin) AS dbin
           FROM h JOIN m1 ON h.event_type = m1.event_type),
         dh AS (SELECT event_type, mbin, tot, dbin, sum(n) AS dn
           FROM d GROUP BY event_type, mbin, tot, dbin),
         dc AS (SELECT *, sum(dn) OVER (PARTITION BY event_type
               ORDER BY dbin ROWS UNBOUNDED PRECEDING) AS cum FROM dh),
         md AS (SELECT event_type, dbin AS madbin, row_number() OVER (
               PARTITION BY event_type ORDER BY dbin) AS rn
           FROM dc WHERE cum * 2 >= tot),
         md1 AS (SELECT event_type, madbin FROM md WHERE rn = 1)
       SELECT d.event_type, CAST(max(d.tot) AS BIGINT) AS n,
              CAST(max(d.mbin) * 1000 AS BIGINT) AS med_lo_c,
              CAST(max(md1.madbin) * 1000 AS BIGINT) AS mad_lo_c,
              CAST(sum(CASE WHEN d.dbin > md1.madbin * 3
                THEN d.n ELSE 0 END) AS BIGINT) AS n_outliers_binned
       FROM d JOIN md1 ON d.event_type = md1.event_type
       GROUP BY d.event_type""",
    // Gini: exact integer numerator/denominator, ascending rank sum
    "q202_gini" ->
      """WITH rev AS (SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
               * 100) AS BIGINT)) AS BIGINT) AS rev_c
           FROM lineitem GROUP BY l_suppkey),
         r AS (SELECT rev_c, row_number() OVER (ORDER BY rev_c ASC,
               l_suppkey ASC) AS i
           FROM rev),
         a AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rev_c) AS BIGINT) AS sum_c,
             CAST(sum(i * rev_c) AS BIGINT) AS iwsum
           FROM r)
       SELECT n, sum_c, iwsum * 2 - (n + 1) * sum_c AS gini_num,
              n * sum_c AS gini_den,
              round(CAST(iwsum * 2 - (n + 1) * sum_c AS DOUBLE)
                / CAST(n * sum_c AS DOUBLE), 6) AS gini
       FROM a""",
    // OLS trend: full grid, five int64 sums, one double expression per
    // coefficient
    "q203_trend_ols" ->
      """WITH e AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS d FROM events),
         c AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY event_type, d),
         d0 AS (SELECT min(d) AS d0 FROM e),
         grid AS (SELECT t.event_type, days.d - d0.d0 AS x,
             COALESCE(c.n, 0) AS y
           FROM (SELECT DISTINCT d FROM e) days
           CROSS JOIN (SELECT DISTINCT event_type FROM e) t
           CROSS JOIN d0
           LEFT JOIN c ON c.event_type = t.event_type AND c.d = days.d),
         s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
           FROM grid GROUP BY event_type)
       SELECT event_type, m AS n_days,
              round(CAST(m * sxy - sx * sy AS DOUBLE)
                / CAST(m * sxx - sx * sx AS DOUBLE), 6) AS slope,
              round((CAST(sy AS DOUBLE) - (CAST(m * sxy - sx * sy
                AS DOUBLE) / CAST(m * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(m AS DOUBLE), 6)
                AS intercept,
              round(CAST(m * sxy - sx * sy AS DOUBLE)
                * CAST(m * sxy - sx * sy AS DOUBLE)
                / CAST((m * sxx - sx * sx) * (m * syy - sy * sy)
                  AS DOUBLE), 6) AS r2
       FROM s""",
    // Benford: exact counts, constant expectation per digit, 4dp
    "q204_benford" ->
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice
             * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d
           FROM orders),
         c AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY d),
         t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
       SELECT d, n,
              round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 4) AS share,
              round(log10(1.0 + 1.0 / CAST(d AS DOUBLE)), 4) AS benford,
              round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
                - log10(1.0 + 1.0 / CAST(d AS DOUBLE)), 4) AS dev
       FROM c CROSS JOIN t""",
    // skyline: two RANGE-frame running maxima over the price ordering,
    // weak-dominance in two integer comparisons
    "q199_skyline" ->
      """WITH p AS (SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size FROM part),
         m AS (SELECT *,
             max(size) OVER (ORDER BY price_c
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS m1,
             max(size) OVER (ORDER BY price_c
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS m2
           FROM p)
       SELECT p_partkey, price_c, size FROM m
       WHERE NOT (COALESCE(m1 >= size, false) OR m2 > size)""",
    // KS: distinct-value ECDF, cross-multiplied integer numerator,
    // one 6dp division at the end
    "q200_ks_test" ->
      """WITH e AS (SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS c
           FROM events WHERE event_type IN ('click', 'view')),
         cells AS (SELECT c,
             CAST(count(CASE WHEN event_type = 'click' THEN 1 END)
               AS BIGINT) AS n1c,
             CAST(count(CASE WHEN event_type = 'view' THEN 1 END)
               AS BIGINT) AS n2c
           FROM e GROUP BY c),
         cum AS (SELECT
             sum(n1c) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
               AS cum1,
             sum(n2c) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
               AS cum2,
             sum(n1c) OVER () AS n1, sum(n2c) OVER () AS n2
           FROM cells)
       SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
              CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
              CAST(n1 * n2 AS BIGINT) AS d_den,
              round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
                / CAST(n1 * n2 AS DOUBLE), 6) AS d
       FROM cum GROUP BY n1, n2""",
    // daily MAD anomalies: full grid, scaled-integer median/MAD at day
    // grain, cross-multiplied flag per day
    "q196_daily_anomalies" ->
      """WITH e AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS d FROM events),
         c AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY event_type, d),
         grid AS (SELECT t.event_type, days.d, COALESCE(c.n, 0) AS n
           FROM (SELECT DISTINCT d FROM e) days
           CROSS JOIN (SELECT DISTINCT event_type FROM e) t
           LEFT JOIN c ON c.event_type = t.event_type AND c.d = days.d),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY n, d) AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
           FROM grid),
         med AS (SELECT event_type,
             CAST(sum(CASE WHEN rn = (m + 1) // 2 THEN n ELSE 0 END)
               + sum(CASE WHEN rn = m // 2 + 1 THEN n ELSE 0 END)
               AS BIGINT) AS med2
           FROM r GROUP BY event_type),
         dv AS (SELECT g.event_type, g.d, g.n,
             abs(g.n * 2 - med.med2) AS d2
           FROM grid g JOIN med ON med.event_type = g.event_type),
         rd AS (SELECT *, row_number() OVER (PARTITION BY event_type
               ORDER BY d2, d) AS rn,
             count(*) OVER (PARTITION BY event_type) AS m
           FROM dv),
         mad AS (SELECT event_type,
             CAST(sum(CASE WHEN rn = (m + 1) // 2 THEN d2 ELSE 0 END)
               + sum(CASE WHEN rn = m // 2 + 1 THEN d2 ELSE 0 END)
               AS BIGINT) AS m2d
           FROM rd GROUP BY event_type)
       SELECT dv.event_type, dv.d AS day, dv.n, dv.d2,
              dv.d2 * 2 > mad.m2d * 3 AS is_anomaly
       FROM dv JOIN mad ON mad.event_type = dv.event_type""",
    // cumulative distinct growth: first-active day + one running sum
    "q197_growth_cumulative" ->
      """WITH e AS (SELECT user_id,
             epoch_us(ts) // 86400000000 AS d FROM events),
         fd AS (SELECT user_id, min(d) AS fd FROM e GROUP BY user_id),
         nu AS (SELECT fd, CAST(count(*) AS BIGINT) AS new_users
           FROM fd GROUP BY fd),
         days AS (SELECT DISTINCT d FROM e)
       SELECT days.d AS day, COALESCE(nu.new_users, 0) AS new_users,
              CAST(sum(COALESCE(nu.new_users, 0)) OVER (ORDER BY days.d
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
       FROM days LEFT JOIN nu ON nu.fd = days.d""",
    // session baskets: sessionize, dedup to (session, type), pair join,
    // exact-count lift in one double expression
    "q198_session_baskets" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
               WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
               ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY ts_us, event_id)),
         s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS sess
           FROM g),
         bk AS (SELECT DISTINCT user_id, sess, event_type FROM s),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
           FROM (SELECT DISTINCT user_id, sess FROM bk)),
         tn AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
           FROM bk GROUP BY event_type),
         pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_ab
           FROM bk a JOIN bk b ON a.user_id = b.user_id
             AND a.sess = b.sess AND a.event_type <> b.event_type
           GROUP BY a.event_type, b.event_type)
       SELECT pr.type_a, pr.type_b, pr.n_ab,
              ta.n_t AS n_a, tb.n_t AS n_b,
              round(CAST(pr.n_ab AS DOUBLE) / CAST(ta.n_t AS DOUBLE), 4)
                AS confidence,
              round(CAST(pr.n_ab * tot.n_sessions AS DOUBLE)
                / CAST(ta.n_t * tb.n_t AS DOUBLE), 4) AS lift
       FROM pr JOIN tn ta ON ta.event_type = pr.type_a
       JOIN tn tb ON tb.event_type = pr.type_b
       CROSS JOIN tot""",
    // Pareto/ABC: cumulative share in (rev desc, key asc) order,
    // cross-multiplied 80/95 cuts
    "q192_pareto_abc" ->
      """WITH rev AS (SELECT l_suppkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
               * 100) AS BIGINT)) AS BIGINT) AS rev_c
           FROM lineitem GROUP BY l_suppkey),
         c AS (SELECT l_suppkey, rev_c,
             sum(rev_c) OVER (ORDER BY rev_c DESC, l_suppkey ASC
               ROWS UNBOUNDED PRECEDING) AS cum_c,
             sum(rev_c) OVER () AS total_c
           FROM rev)
       SELECT l_suppkey, rev_c, CAST(cum_c AS BIGINT) AS cum_c,
              CASE WHEN cum_c * 5 <= total_c * 4 THEN 'A'
                   WHEN cum_c * 20 <= total_c * 19 THEN 'B'
                   ELSE 'C' END AS abc_class
       FROM c""",
    // reconciliation: exact-cents line sums vs header, no-lines -> 0
    "q193_reconciliation" ->
      """WITH li AS (SELECT l_orderkey,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
               * 100) AS BIGINT)) AS BIGINT) AS li_c
           FROM lineitem GROUP BY l_orderkey),
         d AS (SELECT o.o_orderstatus,
             CAST(round(o.o_totalprice * 100) AS BIGINT)
               - COALESCE(li.li_c, 0) AS dev
           FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey)
       SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
              CAST(count(CASE WHEN dev <> 0 THEN 1 END) AS BIGINT)
                AS n_mismatched,
              CAST(sum(abs(dev)) AS BIGINT) AS sum_abs_dev_c,
              CAST(max(abs(dev)) AS BIGINT) AS max_abs_dev_c
       FROM d GROUP BY o_orderstatus""",
    // session paths: gap sessionization + in-session ordered string_agg
    "q185_session_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
             epoch_us(ts) AS ts_us FROM events),
         g AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL THEN 1
               WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
               ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id
             ORDER BY ts_us, event_id)),
         s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING) AS sess
           FROM g),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id, sess
               ORDER BY ts_us, event_id) AS rn
           FROM s),
         p AS (SELECT user_id, sess,
               string_agg(event_type, '>' ORDER BY rn) AS path
           FROM r WHERE rn <= 3 GROUP BY user_id, sess)
       SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
       FROM p GROUP BY path""",
    // correlation matrix: full day grid (real zeros), five int64 sums,
    // one double expression
    "q186_type_correlation" ->
      """WITH e AS (SELECT event_type,
             epoch_us(ts) // 86400000000 AS d FROM events),
         c AS (SELECT event_type, d, CAST(count(*) AS BIGINT) AS n
           FROM e GROUP BY event_type, d),
         days AS (SELECT DISTINCT d FROM e),
         ty AS (SELECT DISTINCT event_type FROM e),
         grid AS (SELECT ty.event_type, days.d,
             COALESCE(c.n, 0) AS n
           FROM days CROSS JOIN ty
           LEFT JOIN c ON c.event_type = ty.event_type AND c.d = days.d),
         pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.n AS x, b.n AS y
           FROM grid a JOIN grid b ON a.d = b.d
             AND a.event_type < b.event_type),
         sm AS (SELECT type_a, type_b,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
           FROM pr GROUP BY type_a, type_b)
       SELECT type_a, type_b, n_days,
              round(CAST(n_days * sxy - sx * sy AS DOUBLE) /
                sqrt(CAST((n_days * sxx - sx * sx)
                  * (n_days * syy - sy * sy) AS DOUBLE)), 4) AS r
       FROM sm""",
    // bag set ops: the IDENTICAL ANSI text runs on both engines
    "q187_bag_set_ops" -> BagSetOpsSql,
    // chi-square GOF: scaled-integer numerator incl. zero cells,
    // integer denominator, one 4dp division at the end
    "q180_chi_square" ->
      """WITH cells AS (SELECT event_type,
             (epoch_us(ts) // 3600000000) % 168 AS how,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY event_type,
             (epoch_us(ts) // 3600000000) % 168),
         tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t
           FROM cells GROUP BY event_type),
         agg AS (SELECT c.event_type, max(t.t) AS t,
             CAST(count(*) AS BIGINT) AS n_cells,
             CAST(sum((c.n * 168 - t.t) * (c.n * 168 - t.t)) AS BIGINT)
               AS s2
           FROM cells c JOIN tot t ON t.event_type = c.event_type
           GROUP BY c.event_type)
       SELECT event_type, t, n_cells,
              s2 + (168 - n_cells) * t * t AS chi2_num,
              t * 168 AS chi2_den,
              round(CAST(s2 + (168 - n_cells) * t * t AS DOUBLE)
                / CAST(t * 168 AS DOUBLE), 4) AS chi2
       FROM agg""",
    // seasonality: integer hour-of-week cells, cross-multiplied
    // deviation and peak flag
    "q178_seasonality" ->
      """WITH cells AS (SELECT event_type,
             (epoch_us(ts) // 3600000000) % 168 AS how,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY event_type,
             (epoch_us(ts) // 3600000000) % 168),
         tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t
           FROM cells GROUP BY event_type)
       SELECT c.event_type, c.how, c.n, c.n * 168 - t.t AS dev168,
              c.n * 168 > t.t * 2 AS is_peak
       FROM cells c JOIN tot t ON t.event_type = c.event_type""",
    // the oracle IS the query text — GROUP BY ALL / ORDER BY ALL are
    // engine-identical byte for byte
    "q144_group_by_all" -> q144Sql,
    // order-statistic percentiles: integer ceil ranks, k-th smallest
    // value — tie-proof, interpolation-free
    "q170_percentile_summary" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events),
         r AS (SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM e)
       SELECT event_type, CAST(max(n) AS BIGINT) AS n,
              min(value) AS min_v, max(value) AS max_v,
              max(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END)
                AS p50,
              max(CASE WHEN rn = (n * 90 + 99) // 100 THEN value END)
                AS p90,
              max(CASE WHEN rn = (n * 99 + 99) // 100 THEN value END)
                AS p99
       FROM r GROUP BY event_type""",
    // hints steer strategy, never semantics: the oracle is the SAME
    // aggregate unhinted, twice
    "q163_join_hints" ->
      """SELECT 'bcast' AS strategy, n_name,
              CAST(count(*) AS BIGINT) AS n
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name
       UNION ALL
       SELECT 'merge', n_name, CAST(count(*) AS BIGINT)
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       GROUP BY n_name""",
    // 3VL parity over data: IN/NOT IN/UNKNOWN/null-safe comparator,
    // NULL group included
    "q164_null_semantics" ->
      """WITH t AS (SELECT CASE WHEN o_orderkey % 7 = 0 THEN NULL
                    ELSE o_orderstatus END AS s
                  FROM orders)
       SELECT s, CAST(count(*) AS BIGINT) AS n,
              CAST(count(s) AS BIGINT) AS n_nonnull,
              CAST(sum(CASE WHEN s IN ('O', 'F') THEN 1 ELSE 0 END)
                AS BIGINT) AS in_true,
              CAST(sum(CASE WHEN s NOT IN ('O', 'X') THEN 1 ELSE 0
                END) AS BIGINT) AS notin_true,
              CAST(sum(CASE WHEN (s = 'O') IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS cmp_unknown,
              CAST(sum(CASE WHEN s IS NOT DISTINCT FROM NULL THEN 1
                ELSE 0 END) AS BIGINT) AS nullsafe_null
       FROM t GROUP BY s""",
    // SQL-door HOFs: DuckDB list lambdas are the dialect translation
    // of transform/filter/aggregate/exists — integer outputs exact
    "q158_sql_hof" ->
      """SELECT doc_id,
              CAST(len(list_filter(string_split(COALESCE(text, ''),
                ' '), x -> length(x) >= 5)) AS INT) AS n_long,
              CAST(COALESCE(list_sum(list_transform(
                string_split(COALESCE(text, ''), ' '),
                x -> length(x))), 0) AS INT) AS total_chars,
              list_contains(string_split(COALESCE(text, ''), ' '),
                'the') AS has_the,
              CAST(list_max(list_transform(
                string_split(COALESCE(text, ''), ' '),
                x -> length(x))) AS INT) AS max_len
       FROM documents""",
    // growth curve: epoch-day first-active + running total over the
    // day-cardinality relation
    "q160_growth_curve" ->
      """WITH f AS (SELECT user_id,
             min(epoch_us(ts) // 3600000000) AS first_hour
           FROM events GROUP BY user_id),
         ph AS (SELECT first_hour,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_new
           FROM f GROUP BY first_hour)
       SELECT first_hour, n_new,
              CAST(sum(n_new) OVER (ORDER BY first_hour
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_cum
       FROM ph""",
    // A/B z-test: exact counts + the identical fixed-operand-order
    // float formula (sqrt is correctly rounded — same order, same bits)
    "q153_ab_ztest" ->
      """WITH pu AS (SELECT user_id,
             max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS hv,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS hp
           FROM events
           WHERE epoch_us(ts) < 1704326800000000
           GROUP BY user_id),
         fl AS (SELECT user_id % 2 = 0 AS isA,
             hv = 1 AND hp = 1 AS conv FROM pu),
         ag AS (SELECT
             CAST(count(CASE WHEN isA THEN 1 END) AS BIGINT) AS n_a,
             CAST(count(CASE WHEN isA AND conv THEN 1 END) AS BIGINT)
               AS conv_a,
             CAST(count(CASE WHEN NOT isA THEN 1 END) AS BIGINT) AS n_b,
             CAST(count(CASE WHEN NOT isA AND conv THEN 1 END)
               AS BIGINT) AS conv_b
           FROM fl)
       SELECT n_a, conv_a, n_b, conv_b,
              round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
                AS p_a,
              round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
                AS p_b,
              CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE)
                        / CAST(n_a + n_b AS DOUBLE))
                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                        / CAST(n_a + n_b AS DOUBLE))
                  * (1.0 / CAST(n_a AS DOUBLE)
                     + 1.0 / CAST(n_b AS DOUBLE))) <> 0.0
              THEN round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                     - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                        / CAST(n_a + n_b AS DOUBLE))
                  * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                        / CAST(n_a + n_b AS DOUBLE))
                  * (1.0 / CAST(n_a AS DOUBLE)
                     + 1.0 / CAST(n_b AS DOUBLE))), 4) END AS z
       FROM ag""",
    // transition matrix: deterministic (ts, event_id) lead + 4dp
    // row share over the matrix-cardinality relation
    "q155_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
             epoch_us(ts) AS ts_us FROM events),
         p AS (SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts_us, event_id) AS to_type
           FROM e),
         c AS (SELECT from_type, to_type,
             CAST(count(*) AS BIGINT) AS n
           FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
       SELECT from_type, to_type, n,
              round(CAST(n AS DOUBLE) / CAST(sum(n)
                OVER (PARTITION BY from_type) AS DOUBLE), 4)
                AS from_share
       FROM c""",
    // k-step funnel: identical strictly-before RANGE frames, exact
    // micros, one-row report — time-range ties engine-neutral
    "q142_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type,
             epoch_us(ts) AS ts_us FROM events
           WHERE epoch_us(ts) < 1704326400000000),
         s1 AS (SELECT *,
             min(CASE WHEN event_type = 'view' THEN ts_us END)
               OVER (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING) AS r1
           FROM e),
         s2 AS (SELECT *, CASE WHEN event_type = 'click'
             AND r1 IS NOT NULL THEN ts_us END AS t2cand FROM s1),
         s3 AS (SELECT *,
             min(t2cand) OVER (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING) AS r2
           FROM s2),
         s4 AS (SELECT *, CASE WHEN event_type = 'purchase'
             AND r2 IS NOT NULL THEN ts_us END AS t3cand FROM s3),
         pu AS (SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts_us END) AS t1,
             min(t2cand) AS t2, min(t3cand) AS t3
           FROM s4 GROUP BY user_id)
       SELECT CAST(count(*) AS BIGINT) AS n_users,
              CAST(count(t1) AS BIGINT) AS n_view,
              CAST(count(t2) AS BIGINT) AS n_view_click,
              CAST(count(t3) AS BIGINT) AS n_full_funnel,
              CAST(count(CASE WHEN t3 - t1 <= 86400000000 THEN 1 END)
                AS BIGINT) AS n_converted_1d,
              round(CAST(count(t3) AS DOUBLE)
                / CAST(count(t1) AS DOUBLE), 4) AS cr_funnel,
              round(CAST(count(CASE WHEN t3 - t1 <= 86400000000
                  THEN 1 END) AS DOUBLE)
                / CAST(count(t1) AS DOUBLE), 4) AS cr_1d
       FROM pu""",
    "q35_semi_anti" ->
      """SELECT n_nationkey, n_name FROM nation
         WHERE n_nationkey IN
           (SELECT c_nationkey FROM customer WHERE c_acctbal > 7000)
           AND n_nationkey NOT IN
           (SELECT c_nationkey FROM customer WHERE c_acctbal < -900)""",
    "q36_outer_join" ->
      """SELECT n_nationkey, n_name,
                CAST(count(c_custkey) AS BIGINT) AS n_cust,
                coalesce(min(c_acctbal), 0.0) AS min_bal
         FROM nation LEFT OUTER JOIN customer
           ON n_nationkey = c_nationkey
         GROUP BY n_nationkey, n_name""",
    "q37_approx_sketch" ->
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_cust,
                TRUE AS cust_within_5pct, TRUE AS med_within_10pct
         FROM orders""",
    "q43_asof_join" ->
      """SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id,
                r.event_id AS signup_id
         FROM (SELECT * FROM events WHERE event_type = 'click') l
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') r
           ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "q44_range_join" ->
      """SELECT band, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT))
                  AS BIGINT) AS sum_price_c
         FROM lineitem JOIN (VALUES
             ('low', 0.0, 24999.99),
             ('mid', 25000.0, 49999.99),
             ('high', 50000.0, 999999.0)) AS bands(band, lo, hi)
           ON l_extendedprice >= lo AND l_extendedprice <= hi
         GROUP BY band""",
    "q52_tpch_q3" ->
      """SELECT o_orderkey, o_orderdate,
                CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100)
                  AS BIGINT)) AS BIGINT) AS revenue_c
         FROM customer, orders, lineitem
         WHERE c_mktsegment = 'BUILDING'
           AND c_custkey = o_custkey AND o_orderkey = l_orderkey
           AND l_shipdate > o_orderdate
         GROUP BY o_orderkey, o_orderdate
         ORDER BY revenue_c DESC, o_orderkey ASC LIMIT 10""",
    "q53_tpch_q5" ->
      """SELECT n_name,
                CAST(sum(CAST(round(l_extendedprice*(1-l_discount)*100)
                  AS BIGINT)) AS BIGINT) AS revenue_c,
                CAST(count(*) AS BIGINT) AS n_items
         FROM customer, orders, lineitem, supplier, nation
         WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND s_nationkey = n_nationkey
         GROUP BY n_name""",
    "q40_stats_agg" ->
      """SELECT l_returnflag,
                corr(l_quantity, l_extendedprice) AS qty_price_corr,
                covar_samp(l_quantity, l_discount) AS qty_disc_cov,
                stddev_samp(l_extendedprice) AS price_sd
         FROM lineitem GROUP BY l_returnflag""",
    "q56_sql_cross_corpus" ->
      """SELECT d.source, e.event_type,
                CAST(count(*) AS BIGINT) AS n_ev,
                CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
                  AS value_cents,
                CAST(max(em.label) AS INT) AS max_label
         FROM events e
         JOIN documents d
           ON CAST(json_extract(e.props, '$.k') AS BIGINT) = d.doc_id
         JOIN embeddings em ON em.vec_id = d.doc_id
         GROUP BY d.source, e.event_type""",
    "q41_json_extract" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
                  AS sum_k,
                CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS INT)
                  AS max_k
         FROM events GROUP BY event_type""",
    "q42_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
                CAST(count(*) AS BIGINT) AS cnt
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""",
    "q16_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""",
    "q17_window_rownum" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
           SELECT o_custkey, o_orderkey, o_orderdate,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
           FROM orders) t WHERE rn = 1""",
    "q18_setops" ->
      """((SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
          UNION
          SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
         INTERSECT
         SELECT o_custkey FROM orders)
        EXCEPT
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'""",
    "q19_scalar_strdate" ->
      """SELECT year(o_orderdate) AS yr,
                substring(o_orderpriority, 1, 1) AS pri,
                upper(concat(o_orderstatus, '-',
                  substring(o_orderpriority, 3, 20))) AS tag,
                CAST(count(*) AS BIGINT) AS cnt,
                min(month(o_orderdate)) AS first_mon
         FROM orders GROUP BY 1, 2, 3""",
    "q20_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
                CAST(count(*) AS BIGINT) AS cnt,
                CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT)
                  AS sum_value_c
         FROM events GROUP BY 1, 2""",
    // each event regenerated into BOTH containing 1h/30m windows via
    // integer micros arithmetic (start = (us div hop - i)*hop, i=0,1)
    "q135_hopping_window" ->
      """WITH e AS (SELECT event_type,
                 CAST(round(value*100) AS BIGINT) AS c,
                 epoch_us(ts) AS us
           FROM events),
         x AS (SELECT
                 make_timestamp((us // 1800000000 - i) * 1800000000)
                   AS win_start,
                 event_type, c
               FROM e, unnest([0, 1]) AS t(i))
       SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(c) AS BIGINT) AS sum_value_c
       FROM x GROUP BY 1, 2""",
    // identical ANSI rank semantics under the same tie classes
    "q136_rank_family" ->
      """SELECT o_orderkey, o_orderpriority, o_orderdate,
                CAST(rank() OVER w AS INT) AS rnk,
                CAST(dense_rank() OVER w AS INT) AS drnk,
                round(percent_rank() OVER w, 6) AS prnk,
                round(cume_dist() OVER w, 6) AS cd
         FROM orders
         WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderdate)""",
    // RANGE frame on exact epoch microseconds; the windowed BIGINT sum
    // widens to HUGEINT in DuckDB -> cast back (the r9 audit rule)
    "q101_range_window" ->
      """SELECT event_id, user_id,
                CAST(count(*) OVER w AS BIGINT) AS n_1h,
                CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w
                  AS BIGINT) AS sum_1h_c
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
    "q105_pivot" ->
      """SELECT user_id % 10 AS cohort,
           count(*) FILTER (event_type = 'click') AS click,
           count(*) FILTER (event_type = 'error') AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup') AS signup,
           count(*) FILTER (event_type = 'view') AS view
         FROM events GROUP BY 1""",
    "q106_grouping_sets" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS sum_chars,
           CAST(GROUPING(source, lang) AS BIGINT) AS gid
         FROM documents
         GROUP BY GROUPING SETS ((source), (lang), ())""",
    "q107_gap_fill" ->
      """WITH h AS (SELECT event_type,
                  epoch_us(ts) // 3600000000 AS hr,
                  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                    AS rev
                FROM events GROUP BY 1, 2),
         bounds AS (SELECT event_type, min(hr) AS lo, max(hr) AS hi
                    FROM h GROUP BY 1),
         spine AS (SELECT event_type, CAST(g AS BIGINT) AS hr
                   FROM bounds, unnest(range(lo, hi + 1)) AS t(g)),
         j AS (SELECT s.event_type, s.hr, h.rev FROM spine s
               LEFT JOIN h ON h.event_type = s.event_type AND h.hr = s.hr)
       SELECT event_type, hr, rev IS NULL AS was_gap,
         last_value(rev IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hr
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rev_filled
       FROM j""",
    "q112_unpivot" ->
      """WITH w AS (SELECT source,
           CAST(sum(CASE WHEN n_chars < 250 THEN 1 ELSE 0 END) AS BIGINT)
             AS short_docs,
           CAST(sum(CASE WHEN n_chars >= 250 AND n_chars < 400
             THEN 1 ELSE 0 END) AS BIGINT) AS medium_docs,
           CAST(sum(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) AS BIGINT)
             AS long_docs
         FROM documents GROUP BY source)
       SELECT source, 'short_docs' AS bucket, short_docs AS n_docs FROM w
       UNION ALL
       SELECT source, 'medium_docs', medium_docs FROM w
       UNION ALL
       SELECT source, 'long_docs', long_docs FROM w""",
    "q31_sql_agg" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
         FROM orders WHERE o_totalprice > 100000
         GROUP BY o_orderpriority""",
    "q32_sql_join" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust,
                min(c_acctbal) AS min_bal
         FROM customer, nation WHERE c_nationkey = n_nationkey
         GROUP BY n_name""",
    "q33_sql_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) t
         WHERE rn = 1""",
    "q54_exists_subquery" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1995-01-01'
           AND o_orderdate < TIMESTAMP '1995-07-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate)
         GROUP BY o_orderpriority""",
    "q34_sessionize" ->
      """SELECT user_id, CAST(count(DISTINCT sess) AS BIGINT) AS n_sessions,
                CAST(count(*) AS BIGINT) AS n_events
         FROM (
           SELECT user_id, sum(is_new) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
           FROM (
             SELECT user_id, ts, event_id,
                    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
                         WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                              > 1800000000 THEN 1
                         ELSE 0 END AS is_new
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) g) s
         GROUP BY user_id""",
    // same recursion, DuckDB dialect: `//` is its integer division (Spark
    // spells it DIV); sums cast back to BIGINT because DuckDB widens
    // sum(BIGINT) to HUGEINT
    "q119_recursive_cte" ->
      """WITH RECURSIVE anc AS (
           SELECT CAST(doc_id AS BIGINT) AS start_id,
                  CAST(doc_id AS BIGINT) AS cur,
                  CAST(0 AS BIGINT) AS depth
           FROM documents
           UNION ALL
           SELECT start_id, cur // 7 AS cur, depth + CAST(1 AS BIGINT) AS depth
           FROM anc WHERE cur >= 7
         )
         SELECT depth, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(start_id) AS BIGINT) AS start_sum,
                CAST(sum(cur) AS BIGINT) AS node_sum
         FROM anc GROUP BY depth""",
    // same closure through an EDGE-TABLE join per level (DuckDB `//`
    // integer division; sums cast back from HUGEINT)
    "q124_recursive_edge_join" ->
      """WITH RECURSIVE edges AS (
           SELECT CAST(doc_id AS BIGINT) AS child,
                  CAST(doc_id AS BIGINT) // 7 AS parent
           FROM documents WHERE doc_id >= 7
         ),
         anc AS (
           SELECT CAST(doc_id AS BIGINT) AS start_id,
                  CAST(doc_id AS BIGINT) AS cur,
                  CAST(0 AS BIGINT) AS depth
           FROM documents
           UNION ALL
           SELECT a.start_id, e.parent AS cur,
                  a.depth + CAST(1 AS BIGINT) AS depth
           FROM anc a JOIN edges e ON a.cur = e.child
         )
         SELECT depth, CAST(count(*) AS BIGINT) AS n,
                CAST(sum(start_id) AS BIGINT) AS start_sum,
                CAST(sum(cur) AS BIGINT) AS node_sum
         FROM anc GROUP BY depth""",
    // generator replayed as index-range unnest (pos is 0-based like
    // posexplode); the top-3-per-source lateral as DuckDB comma-LATERAL
    "q125_lateral" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ls
               FROM documents),
         toks AS (SELECT doc_id, source, CAST(i - 1 AS INT) AS pos,
                    ls[i] AS term
                  FROM w, unnest(range(1, len(ls) + 1)) AS t(i)),
         src AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT)
                     AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_toks,
                   CAST(sum(pos) AS BIGINT) AS pos_sum
                 FROM toks GROUP BY source)
       SELECT s.source, s.n_docs, s.n_toks, s.pos_sum,
              x.term AS top_term, x.n AS top_n
       FROM src s, LATERAL (
         SELECT t.term, CAST(count(*) AS BIGINT) AS n
         FROM toks t WHERE t.source = s.source
         GROUP BY t.term
         ORDER BY n DESC, t.term
         LIMIT 3
       ) x""",
    // identical SQL-standard bag algebra, verbatim
    "q127_setops_all" ->
      """SELECT l_suppkey, 'intersect_all' AS op FROM (
           SELECT l_suppkey FROM lineitem WHERE l_quantity >= 25
           INTERSECT ALL
           SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')
         UNION ALL
         SELECT l_suppkey, 'except_all' AS op FROM (
           SELECT l_suppkey FROM lineitem WHERE l_quantity >= 25
           EXCEPT ALL
           SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R')""",
    // epoch-day integers on the shared microsecond clock (the q34
    // posture) — no calendar day-boundary/timezone semantics anywhere
    "q130_retention_cohorts" ->
      """WITH e AS (SELECT user_id,
                 epoch_us(ts) // 86400000000 AS d FROM events),
         f AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id),
         cells AS (SELECT f.cohort_day, e.d - f.cohort_day AS day_off,
                     CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
                   FROM e JOIN f USING (user_id)
                   GROUP BY f.cohort_day, e.d - f.cohort_day),
         sz AS (SELECT cohort_day,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
                FROM f GROUP BY cohort_day)
       SELECT CAST(cells.cohort_day AS BIGINT) AS cohort_day,
              CAST(day_off AS BIGINT) AS day_off, n_active, cohort_size,
              round(CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE),
                4) AS retention
       FROM cells JOIN sz USING (cohort_day)""",
    // same ANSI clauses verbatim (FILTER, WITHIN GROUP ordered-set
    // percentiles, named WINDOW) — engine-neutral by construction
    "q131_ansi_agg_window" ->
      """WITH agg AS (
           SELECT l_returnflag,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(count(*) FILTER (WHERE l_quantity >= 25) AS BIGINT)
                    AS n_big,
                  CAST(sum(CAST(l_quantity AS BIGINT))
                    FILTER (WHERE l_quantity < 10) AS BIGINT) AS small_qty,
                  round(percentile_cont(0.5)
                    WITHIN GROUP (ORDER BY l_quantity), 4) AS med_qty,
                  percentile_disc(0.25)
                    WITHIN GROUP (ORDER BY l_quantity) AS q1_qty
           FROM lineitem GROUP BY l_returnflag),
         wnd AS (
           SELECT l_returnflag, l_orderkey, l_linenumber,
                  row_number() OVER w AS rn,
                  CAST(sum(CAST(l_quantity AS BIGINT)) OVER w
                    AS BIGINT) AS run_qty
           FROM lineitem
           WINDOW w AS (PARTITION BY l_returnflag
                        ORDER BY l_orderkey, l_linenumber))
       SELECT a.l_returnflag, a.n, a.n_big, a.small_qty, a.med_qty,
              a.q1_qty, w.l_orderkey, w.l_linenumber, w.rn, w.run_qty
       FROM agg a JOIN wnd w ON a.l_returnflag = w.l_returnflag
       WHERE w.rn <= 5""",
  )
}
