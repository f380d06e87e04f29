package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.{Cross => CrossType, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.functions._
import graft.rules.RaRules

/** Optimizer parity with the reference's raopt (its thesis subject,
  * `tests/test_raopt.py`), in both directions:
  *
  *  1. our R1–R4 `Rule[LogicalPlan]` port produces the reference's
  *     post-rewrite shapes on the reference's own query forms;
  *  2. stock Catalyst reaches (at least) the same fixed point on those
  *     forms with no custom rules at all — the subsumption claim of
  *     SURVEY §4.3.
  *
  * Queries are built in the reference frontend's canonical pre-optimized
  * form π(σ(×)) (`sql2ra` emits all FROM items crossed with one σ on top,
  * SURVEY §3.1) over the pizza fixtures.
  */
class RaParitySpec extends SparkSpec {

  private lazy val engine =
    new graft.api.Engine(spark, pizzaDd, pizzaDir, format = "csv")

  private def person = engine.scan("Person").toDF
  private def eats = engine.scan("Eats").toDF

  /** The canonical σ_{join∧residual}(Person × Eats) form. */
  private def canonical: DataFrame =
    person.crossJoin(eats)
      .filter(col("Person.name") === col("Eats.name") &&
        col("Person.age") === 16)

  private def firstJoin(p: LogicalPlan): Option[Join] =
    p.collectFirst { case j: Join => j }

  // ── direction 1: our rules produce the reference's rewrite shapes ──────

  test("R4: Filter over Cross becomes Inner join with residual filter on top") {
    val analyzed = canonical.queryExecution.analyzed
    assert(firstJoin(analyzed).exists(_.joinType == CrossType))
    val rewritten = RaRules.IntroduceJoins(analyzed)
    val j = firstJoin(rewritten).get
    assert(j.joinType == Inner)
    assert(j.condition.isDefined)
    // residual single-table predicate stays as a Filter (reference
    // raopt.py:280-288 keeps non-join conjuncts in a σ on top; our R2
    // would push it further)
    assert(rewritten.collect { case f: Filter => f }.nonEmpty)
  }

  test("R2: single-side predicates push below the join; join conds stay") {
    val analyzed = canonical.queryExecution.analyzed
    val rewritten = RaRules.PushDownSelections(analyzed)
    val j = firstJoin(rewritten).get
    // the age predicate must now sit under the join, on Person's side
    val filtersUnderJoin = j.left.collect { case f: Filter => f }
    assert(filtersUnderJoin.nonEmpty, rewritten.toString)
    assert(filtersUnderJoin.exists(_.condition.toString.contains("age")))
  }

  test("R1/R3 are mutual inverses on conjunctions (reference raopt.py:7-34,176-200)") {
    val analyzed = person.filter(col("age") === 16 && col("gender") === "female")
      .queryExecution.analyzed
    val broken = RaRules.BreakUpSelections(analyzed)
    val filters = broken.collect { case f: Filter => f }
    assert(filters.size == 2, broken.toString)
    val merged = RaRules.MergeSelections(broken)
    assert(merged.collect { case f: Filter => f }.size == 1, merged.toString)
  }

  test("full R1-R4 pipeline on the reference's 3-way canonical form") {
    // select distinct P.name, S.pizzeria from Person, Eats, Serves ...
    // (the mushroom-lovers shape, tests/test_e2e.py:93-98)
    val serves = engine.scan("Serves").toDF
    val df = person.crossJoin(eats).crossJoin(serves)
      .filter(col("Person.name") === col("Eats.name") &&
        col("Eats.pizza") === col("Serves.pizza") &&
        col("Eats.pizza") === "mushroom")
      .select(col("Person.name"), col("Serves.pizzeria")).distinct()
    val rewritten = RaRules.optimize(df.queryExecution.analyzed)
    val joins = rewritten.collect { case j: Join => j }
    assert(joins.nonEmpty && joins.forall(_.joinType == Inner), rewritten)
    // and the rewritten plan still computes the right answer: 8 rows
    // (reference golden count) — round-trip through a new DataFrame
    assert(df.count() === 8)
  }

  test("R2 never pushes a predicate from above a nondeterministic filter below it") {
    // rand() evaluates over the rows that reach it: moving the age
    // predicate below would change that row set (Catalyst's
    // PushDownPredicates guards identically — round-3 advice fix).
    val above = person.crossJoin(eats)
      .filter(rand(7) < 2.0)
      .filter(col("Person.age") === 16)
      .queryExecution.analyzed
    val rewritten = RaRules.PushDownSelections(above)
    assert(rewritten.canonicalized == above.canonicalized,
      s"predicates above a nondeterministic filter must not move:\n$rewritten")
    // ...but a deterministic filter BELOW the nondeterministic one still
    // pushes into the join
    val below = person.crossJoin(eats)
      .filter(col("Person.age") === 16)
      .filter(rand(7) < 2.0)
      .queryExecution.analyzed
    val rewritten2 = RaRules.PushDownSelections(below)
    val j = firstJoin(rewritten2).get
    assert(j.left.collect { case f: Filter => f }
        .exists(_.condition.toString.contains("age")),
      s"deterministic predicate below the nondeterministic filter should push:\n$rewritten2")
  }

  // ── direction 2: stock Catalyst subsumes all four rules ────────────────

  test("Catalyst alone attaches the join condition and pushes filters (R2+R4)") {
    val optimized = canonical.queryExecution.optimizedPlan
    // Catalyst keeps the Cross *label* but attaches the equi-condition —
    // the R4 EFFECT: the planner picks an equi-join strategy, not a
    // cartesian product
    val j = firstJoin(optimized).get
    assert(j.condition.isDefined,
      s"Catalyst should attach the join condition:\n$optimized")
    val physical = canonical.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct"), physical)
    assert(physical.contains("HashJoin") || physical.contains("SortMergeJoin"),
      physical)
    // R2's effect: no Filter remains above any Join
    val filtersAboveJoins = optimized.collect {
      case f: Filter if f.collectFirst { case _: Join => () }.isDefined => f
    }
    assert(filtersAboveJoins.isEmpty,
      s"no residual filter should remain above the join:\n$optimized")
  }

  test("Catalyst reaches the same fixed point with our rules injected (no-op parity)") {
    val base = canonical.queryExecution.optimizedPlan
    val reApplied = RaRules.optimize(base)
    // canonicalized comparison: expression-id and conjunct-order neutral
    assert(reApplied.canonicalized == base.canonicalized,
      s"our pipeline must be a no-op on Catalyst's fixed point:\n$base\nvs\n$reApplied")
  }

  // ── door layout: small relations are one in-memory partition ──────────

  /** One σ/π query through each door: `sqlDistinct`, `ra` and `scan`. */
  private def doors(eng: graft.api.Engine): Seq[(String, DataFrame)] = Seq(
    "sqlDistinct" -> eng.sqlDistinct(
      "SELECT name FROM Person WHERE gender = 'female'"),
    "ra" -> eng.ra("""\project_{name} \select_{gender='female'} Person;"""),
    "scan" -> eng.scan("Person").select(col("gender") === "female")
      .project("name").toDF.distinct())

  test("a σ/π query over a small relation runs as one job and plans no exchange") {
    val eng = new graft.api.Engine(spark, pizzaDd, pizzaDir, format = "csv")
    eng.scan("Person").toDF.collect() // fills the cache (its own job)
    for ((door, df) <- doors(eng)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$door:\n$plan")
      assert(plan.contains("In-memory table Person"), s"$door:\n$plan")
      val (rows, jobs) = jobsStartedBy(df.collect())
      assert(rows.map(_.getString(0)).toSet === Set("Amy", "Fay", "Hil"), door)
      assert(jobs === 1, s"$door started $jobs jobs")
    }
  }

  test("with the broadcast threshold off, the same query scans its file through an exchange") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val eng = new graft.api.Engine(spark, pizzaDd, pizzaDir, format = "csv")
      for ((door, df) <- doors(eng)) {
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("FileScan csv"), s"$door:\n$plan")
        assert(plan.contains("Exchange hashpartitioning"), s"$door:\n$plan")
        assert(df.collect().map(_.getString(0)).toSet ===
          Set("Amy", "Fay", "Hil"), door)
      }
    } finally {
      spark.conf.set(key, saved)
      // re-register the session's pizza views with the default layout
      new graft.api.Engine(spark, pizzaDd, pizzaDir, format = "csv")
    }
  }

  // ── the injected rules on the contract ─────────────────────────────────

  private val injected = Seq(RaRules.PushDownSelections,
    RaRules.MergeSelections, RaRules.IntroduceJoins).map(_.ruleName)
  private val MeterLine = """^(\S+)\s+\d+ / \d+\s+(\d+) / \d+\s*$""".r

  /** Effective runs of the injected rules while `body` runs, from
    * Catalyst's rule metering. */
  private def firings(body: => Unit): Map[String, Long] = {
    def meter() = RuleExecutor.dumpTimeSpent().split("\n").iterator.collect {
      case MeterLine(name, effective) if injected.contains(name) =>
        name -> effective.toLong
    }.toMap
    val before = meter()
    body
    meter().map { case (k, n) => k -> (n - before.getOrElse(k, 0L)) }
      .filter(_._2 > 0)
  }

  test("injected rules fire on three contract plans and leave Catalyst's fixed point unchanged") {
    // Over a full contract pass these are the only firings. Inside
    // Catalyst's fixed-point batches an injected rule can run before the
    // stock rule that does the same rewrite in the same iteration
    // (CombineFilters for R3; PushPredicateThroughJoin, which attaches
    // the condition but keeps the Cross label, for R4). The plans reached
    // without them differ only in that label.
    SparkSession.setActiveSession(spark)
    val excluded = "spark.sql.optimizer.excludedRules"
    def crossAsInner(p: LogicalPlan) = p transform {
      case j @ Join(_, _, CrossType, Some(_), _) => j.copy(joinType = Inner)
    }
    for ((q, rule) <- Seq(
        "q63_clean_pipeline" -> RaRules.MergeSelections,
        "q74_bigram_pmi" -> RaRules.MergeSelections,
        "q87_semantic_dedup" -> RaRules.IntroduceJoins)) {
      val analyzed = SparkEntry.queries(q)(spark, sfDir).queryExecution.analyzed
      var withRules: LogicalPlan = null
      val fired = firings {
        withRules = spark.sessionState.optimizer.execute(analyzed)
      }
      assert(fired.keySet === Set(rule.ruleName), s"$q: $fired")
      val catalystOnly =
        try {
          spark.conf.set(excluded, injected.mkString(","))
          spark.sessionState.optimizer.execute(analyzed)
        } finally spark.conf.unset(excluded)
      assert(crossAsInner(withRules).canonicalized ==
          crossAsInner(catalystOnly).canonicalized,
        s"$q: the injected rules changed the optimized plan:\n$withRules\n" +
          s"vs Catalyst alone:\n$catalystOnly")
    }
  }
}
