package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dec

/** Link-graph centrality over an edge relation — the web-curation
  * authority signal (CC-Net / RefinedWeb-style pipelines rank crawl
  * domains by link centrality before quality cuts; the reference engine
  * has no graph surface at all, so this is catalog extension, not
  * parity).
  *
  * The rank is classic PageRank, but computed ENTIRELY in scaled
  * fixed-point integer arithmetic (`Long`s, default scale 1e12): every
  * per-edge contribution is `((r · dampNum) div dampDen) div outdeg`
  * with truncating integer division, so each iteration is a sum of
  * exact integers — order-invariant under Spark's partial aggregation
  * and bit-identically replayable by any engine with 64-bit integer
  * division (the DuckDB oracle unrolls the same iterations as CTEs).
  * Floating-point PageRank cannot be equality-gated across engines
  * (summation order changes ulps); fixed-point can, at the cost of a
  * deterministic downward drift of at most one scale-unit per divisor
  * per term — the total rank mass stays within `nodes + edges` units of
  * `scale` per iteration (OpsSpec pins the conservation bound and a
  * hand-walked 3-node graph, dangling node included).
  *
  * Dangling mass is redistributed: nodes with no out-edges contribute
  * `((Σr_dangling · dampNum) div dampDen) div n` to every node, the
  * standard correction — without it rank mass drains to the teleport
  * floor and hubs are under-ranked.
  *
  * Scale shape: edges are deduplicated once (one shuffle), then each
  * iteration costs (a) the ranks⨝edges join on `src` — ranks is one row
  * per NODE, edges dominate; with edges pre-partitioned by src this is
  * the Pregel message exchange — (b) the contribution aggregate keyed
  * by `dst`, and (c) a one-row dangling-mass aggregate (its cross join
  * is a broadcast of a single row, the audited 1-row-totals BNLJ
  * shape). Nothing is ever collected except the node count `n` — the
  * one scalar the algorithm's teleport term needs. At real scale set
  * `checkpointEvery` ≥ 1: each iteration's ranks relation (one row per
  * node — domain-grain, millions of rows, NOT corpus-grain) is eagerly
  * localCheckpoint-ed, truncating the lineage so K iterations stay K
  * stages instead of a 3K-join megaplan; the gated query runs K = 4
  * with pure lineage so the dumped plan shows the whole dataflow.
  */
object Graph {

  /** Fixed-point PageRank. `edges` is any relation with integer-like
    * `srcCol`/`dstCol`; self-loops and duplicate edges are removed
    * (the edge set is a SET — outdegree counts distinct targets).
    * Returns one row per node: (node, outdeg, r_scaled) after `iters`
    * synchronous iterations from the uniform start `scale div n`.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 4, dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1000000000000L,
               checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 1, s"pageRank: iters must be >= 1, got $iters")
    require(dampNum > 0 && dampNum < dampDen,
      s"pageRank: need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    // The edge set, node set and outdegree relation are loop
    // INVARIANTS consumed by every iteration (and, under
    // checkpointEvery, by every eager materialization) — localCheckpoint
    // them once so the edge-distinct shuffle and the degree aggregate
    // run exactly once, not once per iteration action. All three are
    // graph-grain (nodes/edges), never corpus-grain.
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(true)
    // The one driver-side scalar: |V|, needed inside the teleport and
    // dangling divisors. Domain-grain count, not corpus-grain.
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    val tele = ((dampDen - dampNum) * scale) / dampDen / n

    var ranks = nodes.withColumn("r", lit(scale / n))
    for (k <- 1 to iters) {
      val contrib = e
        .join(ranks.select(col("node").as("src"), col("r")), "src")
        .join(outdeg.select(col("node").as("src"), col("outdeg")), "src")
        .select(col("dst").as("node"),
          expr(s"((r * $dampNum) div $dampDen) div outdeg").as("c"))
        .groupBy("node").agg(sum("c").as("csum"))
      val dang = ranks
        .join(outdeg.select(col("node")), Seq("node"), "left_anti")
        .agg(coalesce(sum("r"), lit(0L)).as("dm"))
        .select(expr(s"((dm * $dampNum) div $dampDen) div $n").as("dshare"))
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .crossJoin(dang)
        .select(col("node"),
          (lit(tele) + col("dshare") + coalesce(col("csum"), lit(0L)))
            .as("r"))
      if (checkpointEvery > 0 && k % checkpointEvery == 0)
        ranks = ranks.localCheckpoint(true)
    }
    ranks.join(outdeg, Seq("node"), "left")
      .select(col("node"), coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        col("r").as("r_scaled"))
  }

  /** Triangle enumeration by degree-ordered orientation — the
    * clustering-coefficient / spam-farm-detection primitive (a link
    * farm is triangle-dense; organic link graphs are triangle-sparse).
    * The naive 3-way self-join touches Σ deg(v)² pairs and dies on the
    * first hub; the standard fix (Schank & Wagner 2005; the
    * vertex-ordering form in Suri & Vassilvitskii, WWW 2011) orients
    * every undirected edge from the LOWER-(degree, node) endpoint to
    * the higher, making every out-degree O(√m), then joins oriented
    * wedges `a→b, a→c (b < c by the same order)` against the oriented
    * edge set `b→c` — each triangle is found EXACTLY once, and the
    * wedge relation is Σ outdeg(v)² = O(m^1.5) worst-case instead of
    * hub-quadratic. Input edges are symmetrized and deduped first, so
    * callers can pass either directed or undirected relations;
    * self-loops are dropped. Returns the per-triangle relation
    * `(n_a, n_b, n_c)` with `n_a < n_b < n_c` — callers count or
    * aggregate per node.
    *
    * The symmetrized edge set, the degree relation and the oriented
    * edge relation are loop-invariant inputs referenced MULTIPLE times
    * downstream (oriented four times: the wedge self-join twice, the
    * closing-join union twice) — each is eagerly localCheckpoint-ed
    * once, the [[pageRank]]/dupClusters discipline (r16 verdict #1:
    * the pure-lineage form re-derived the whole
    * symmetrize+degree+orient pyramid per reference — 120 parquet
    * scans and 38 exchanges in q222's executed plan where the
    * inventory promises six). Honest shuffle inventory, each paid
    * EXACTLY ONCE (all edge-shaped, none corpus-quadratic): the
    * symmetrize-distinct, the degree aggregate, the two degree joins
    * (broadcast when degrees fit) — those four land inside the three
    * checkpoint materializations — then the wedge self-join on the
    * apex and the closing join on (b, c) in the final executed plan,
    * which scans ONLY the checkpointed oriented relation (PlanSpec
    * pins the exchange/scan ceiling). Only the wedge and closing
    * joins carry the O(m^1.5) bound above.
    */
  def triangles(edges: DataFrame, srcCol: String,
                dstCol: String): DataFrame = {
    val und = symmetrized(edges, srcCol, dstCol)
    trianglesOf(orientedOf(und, degreesOf(und)))
  }

  /** HITS hubs-and-authorities (Kleinberg, *Authoritative sources in a
    * hyperlinked environment*, JACM 1999) — the DIRECTED companion to
    * [[pageRank]]: a good hub points at good authorities, a good
    * authority is pointed at by good hubs. On a crawl's link graph the
    * two scores separate directories/link-farms (hubby) from canonical
    * content (authoritative) — a different screen than PageRank's
    * single stationary score, and the pair is what a curation gate
    * wants (farm = high hub, low authority).
    *
    * Integer semantics, the [[pageRank]] posture: synchronous
    * iterations from the uniform start `scale`, each half-step
    * max-normalized back to `scale` in pure int64 —
    * `a' = (Σ_{u→v} h(u)) · scale div max` then
    * `h' = (Σ_{u→v} a'(v)) · scale div max` — so a fixed-iteration
    * unroll replays exactly in any engine (truncating div both sides,
    * the q226 pin). L∞ normalization instead of the textbook L2: no
    * square roots exist in integer arithmetic, and scale-invariant
    * RANKING is what consumers read off the scores. Edge set is
    * deduped DIRECTED pairs, self-loops dropped; nodes with no
    * in-edges (pure hubs) keep authority 0, no out-edges keep hub 0.
    *
    * Scale shape: per iteration two edge-grain join+aggregate
    * half-steps plus two scalar max aggregates; edges/nodes are
    * loop-invariant localCheckpoint-ed once, per-round scores
    * checkpointed so each action executes one round's dataflow.
    * int64 bound: Σ h ≤ maxdeg·scale and the rescale multiplies by
    * scale, so maxdeg·scale² < 2⁶³ — at the default scale 10⁶ that
    * allows in/out-degrees to 9·10⁶; shrink scale for hotter hubs
    * (ranking is scale-invariant).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 3, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"hits: iters must be >= 1, got $iters")
    require(scale >= 1, s"hits: scale must be >= 1, got $scale")
    val e = edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    val nodes = e.select(col("u").as("node"))
      .union(e.select(col("v").as("node"))).distinct()
      .localCheckpoint(true)
    require(nodes.limit(1).count() > 0, "hits: empty graph")
    var h = nodes.withColumn("s", lit(scale))
    var a = nodes.withColumn("s", lit(0L))
    // checkpoint the RAW half-step scores, not the normalized ones: each
    // raw relation has two consumers (its own max-normalizer broadcast
    // and the next half-step), so checkpointing after the crossJoin made
    // every half-step's join+aggregate dataflow execute twice — once for
    // the max scalar, once for the checkpoint (r20 profile: q247 was
    // ~90 stages of pure re-execution). With the raw scores cached, the
    // max aggregate and the normalized projection are cached-scan cheap.
    for (_ <- 1 to iters) {
      val aRaw = nodes.join(
          e.join(h.select(col("node").as("u"), col("s")), "u")
            .groupBy(col("v").as("node")).agg(sum(col("s")).as("raw")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
        .localCheckpoint(true)
      a = aRaw.crossJoin(broadcast(aRaw.agg(max(col("raw")).as("mx"))))
        .select(col("node"), expr(s"raw * $scale div mx").as("s"))
      val hRaw = nodes.join(
          e.join(a.select(col("node").as("v"), col("s")), "v")
            .groupBy(col("u").as("node")).agg(sum(col("s")).as("raw")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("raw"), lit(0L)).as("raw"))
        .localCheckpoint(true)
      h = hRaw.crossJoin(broadcast(hRaw.agg(max(col("raw")).as("mx"))))
        .select(col("node"), expr(s"raw * $scale div mx").as("s"))
    }
    h.select(col("node"), col("s").as("hub_scaled"))
      .join(a.select(col("node"), col("s").as("auth_scaled")), Seq("node"))
  }

  /** Bounded-round k-core peel — the degeneracy screen next to
    * [[triangles]] in the link-quality toolbox: the k-core (maximal
    * subgraph where every node keeps degree ≥ k; Seidman, *Network
    * structure and minimum degree*, 1983) separates densely-embedded
    * hubs from tendrils and isolated chains, and "core number small"
    * is the standard cheap filter before anything pair-expensive runs.
    * Computed by synchronous peeling: each round drops every node
    * whose CURRENT degree is below k and restricts the edge set to
    * survivors — removals cascade (a tendril of length t needs t
    * rounds).
    *
    * Semantics are the R-ROUND RESIDUAL, the [[pageRank]] posture:
    * output = (node, degree) of the graph left after exactly `rounds`
    * peels, which equals the true k-core whenever the cascade has
    * converged within the budget (the loop exits EARLY at the fixed
    * point — an edge-count-unchanged round proves node set and edge
    * set both stable, and every later round is a no-op, so
    * bounded-round ≡ unrolled-R replays exactly in an oracle at any
    * data size). Scale shape: per round one degree aggregate + two
    * semi-joins, all edge-grain and localCheckpoint-ed so each round's
    * executed plan is ONE round's dataflow (the r16 triangles lesson);
    * the early-exit count is a driver scalar on the checkpointed edge
    * relation. Worst-case rounds for full convergence is the graph's
    * degeneracy ordering length — callers bound it explicitly, the
    * loop never hides an unbounded iteration.
    */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Long, rounds: Int): DataFrame = {
    require(k >= 1, s"kCorePeel: k must be >= 1, got $k")
    require(rounds >= 1, s"kCorePeel: rounds must be >= 1, got $rounds")
    var und = symmetrized(edges, srcCol, dstCol)
    var prevEdges = und.count()
    var r = 0
    var converged = prevEdges == 0L
    while (r < rounds && !converged) {
      val keep = und.select(col("u").as("n"))
        .unionAll(und.select(col("v").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("n"))
      und = und
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .localCheckpoint(true)
      val nowEdges = und.count()
      converged = nowEdges == prevEdges
      prevEdges = nowEdges
      r += 1
    }
    und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
  }

  /** Bipartite co-occurrence projection — items that share a basket
    * (order/session/document), counted per pair: the market-basket /
    * co-citation primitive behind "parts ordered together", related-
    * query mining and co-link spam screens. The projection of the
    * user–item bipartite graph onto items.
    *
    * Σ|basket|² is THE hazard (one crawler-bot basket of 10⁶ items is
    * 10¹² pairs): baskets larger than `maxBasket` are DROPPED WHOLE
    * before the self-join, the [[graft.ops.Dedup]] cap posture — a
    * truncated basket would silently undercount pairs, and an
    * over-cap basket is by definition not co-occurrence signal (a bot,
    * a catalog dump, a reserved sentinel key). [[cooccurrenceAudit]]
    * is the loud twin listing what the cap dropped; run both, alert
    * on the audit. Cost after the cap (r21 optimization — guide
    * §2.3 aggregate-before-shuffle / §2.4 remove shuffles; profiled:
    * the r20 shape paid a (basket, item)-keyed distinct exchange, a
    * basket-keyed window-count exchange + global sort, AND a
    * within-basket self-join that re-read the window output twice —
    * ~13 s of task time at sf0.1): ONE basket-keyed aggregation
    * shuffle through the size-capped [[graft.expr.CappedItemSet]]
    * collector — dedup, cap and collection fused, with map-side
    * partial aggregation so a degenerate basket costs O(maxBasket)
    * per partial buffer and ships one tombstone — then pairs explode
    * IN PLACE from each basket's sorted distinct array (a codegen
    * `posexplode` × `slice` explode, no lambda functions: position
    * order in the sorted array IS the `item_a < item_b` value order),
    * and the only other shuffle is the (a, b)-keyed count with
    * map-side partial aggregation. A NULL item counts toward the
    * basket's size (it is a distinct line) but pairs with nothing —
    * both exactly as the distinct+window form behaved. A NULL basket
    * KEY is no basket: its rows are filtered out before the groupBy
    * (the pre-r21 equi-join dropped them the same way), so unrelated
    * NULL-keyed lines never fuse into one pseudo-basket. Canonical
    * `item_a < item_b`, duplicate (basket, item) rows deduped first
    * so a re-delivered line never doubles a pair.
    */
  def cooccurrence(pairs: DataFrame, basketCol: String, itemCol: String,
                   maxBasket: Int): DataFrame = {
    require(maxBasket >= 2,
      s"cooccurrence: maxBasket must be >= 2, got $maxBasket")
    val items = pairs
      .select(col(basketCol).as("b"), col(itemCol).as("i"))
      .filter(col("b").isNotNull)
      .groupBy(col("b"))
      .agg(call_function("capped_item_set", col("i"), lit(maxBasket))
        .as("__its"))
      .filter(col("__its").isNotNull)
    items
      .select(col("__its"), posexplode(col("__its")).as(Seq("__k", "__a")))
      .select(col("__a").as("item_a"),
        explode(slice(col("__its"), col("__k") + lit(2), lit(maxBasket)))
          .as("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
  }

  /** Audit twin of [[cooccurrence]]: the baskets the cap dropped, with
    * their sizes — alert when it is non-empty, raise `maxBasket`
    * deliberately or blocklist the key. NULL basket keys are no basket
    * here either. */
  def cooccurrenceAudit(pairs: DataFrame, basketCol: String,
                        itemCol: String, maxBasket: Int): DataFrame =
    pairs.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .filter(col("b").isNotNull)
      .distinct()
      .groupBy(col("b").as(basketCol))
      .agg(count(lit(1)).as("n_items"))
      .filter(col("n_items") > maxBasket)

  /** Bounded-round label propagation — the COMMUNITY screen next to
    * [[pageRank]]'s centrality and [[kCorePeel]]'s density (Raghavan,
    * Albert & Kumara, *Near linear time algorithm to detect community
    * structures in large-scale networks*, Phys. Rev. E 2007): nodes
    * adopt the label most common among their neighbors, and after a
    * few rounds label plateaus ARE the communities — mirror-domain
    * clusters and link-farm rings on a crawl graph, duplicate-cluster
    * super-groups downstream of [[graft.ops.Dedup]]. No modularity
    * objective, no resolution parameter: cost per round is one
    * edge-grain join + two aggregates, which is why it is the only
    * community algorithm anyone runs at web scale.
    *
    * The textbook algorithm is nondeterministic twice over (random
    * update order, random tie-break) — useless under a hash gate and
    * irreproducible across reruns at ANY scale. This is the
    * DETERMINISTIC synchronous variant: every node updates each round
    * from the round-(k−1) labels, and the new label is the neighbor
    * label with the highest count, ties broken by SMALLEST label — a
    * pure function of the edge set, bit-replayable by an unrolled
    * oracle. (Synchronous LPA can two-color-oscillate on bipartite
    * regions — Raghavan §IV's known artifact; the bounded round count
    * makes that a defined output, not a hang, and the min-label
    * tie-break damps the common cases.) Labels start as node ids, so
    * a finished community is named by a member id, min-reachable in
    * round-count hops. Semantics are the R-ROUND SNAPSHOT, the
    * [[kCorePeel]] posture: output = (node, label) after exactly
    * `rounds` synchronous updates.
    *
    * Scale shape: the neighbor relation (symmetrized both directions,
    * 2m rows) is loop-invariant and localCheckpoint-ed once; each
    * round is one join of labels (node-grain) onto neighbors
    * (edge-grain, shuffle on the label key), one (node, label) count,
    * one per-node arg-max — all edge-shaped, checkpointed per round so
    * R rounds stay R dataflows ([[pageRank]]'s `checkpointEvery`
    * discipline, always on here since every round feeds the next).
    * The arg-max is `max(struct(count, -label))`: one partial-
    * aggregable pass, no per-node sort.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int): DataFrame = {
    require(rounds >= 1,
      s"labelPropagation: rounds must be >= 1, got $rounds")
    val und = symmetrized(edges, srcCol, dstCol)
    val nbr = und.select(col("u").as("node"), col("v").as("nb"))
      .unionAll(und.select(col("v").as("node"), col("u").as("nb")))
      .localCheckpoint(true)
    var labels = nbr.select(col("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      labels = nbr
        .join(labels.select(col("node").as("nb"), col("lbl")), "nb")
        .groupBy(col("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
        .select(col("node"), (-col("m.neg")).as("lbl"))
        .localCheckpoint(true)
    }
    labels.select(col("node"), col("lbl").as("label"))
  }

  /** Symmetrize + dedup to the canonical undirected edge set (u < v),
    * self-loops dropped; eagerly materialized (one distinct shuffle,
    * paid once however many times downstream reads it). */
  private def symmetrized(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(true)

  /** Undirected degree per node from the symmetrized edge set; node
    * grain, eagerly materialized. */
  private def degreesOf(und: DataFrame): DataFrame =
    und.select(col("u").as("n"))
      .unionAll(und.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)

  /** Orient each undirected edge from the lower-(degree, node)
    * endpoint to the higher — a total order, so exactly one direction
    * per edge; broadcast degrees when they fit, else the join shuffles
    * on the node key. Eagerly materialized: downstream reads it four
    * times. */
  private def orientedOf(und: DataFrame, deg: DataFrame): DataFrame =
    und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("lo"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("hi"))
      .localCheckpoint(true)

  /** Oriented-wedge enumeration + closing join over an already
    * materialized oriented edge relation. */
  private def trianglesOf(oriented: DataFrame): DataFrame = {
    val wedges = oriented.select(col("lo").as("a"), col("hi").as("b"))
      .join(oriented.select(col("lo").as("a"), col("hi").as("c")), Seq("a"))
      .filter(col("b") < col("c"))
    wedges.join(
        oriented.select(col("lo").as("b2"), col("hi").as("c2"))
          .unionAll(oriented.select(col("hi").as("b2"), col("lo").as("c2"))),
        col("b") === col("b2") && col("c") === col("c2"))
      .select(least(col("a"), col("b"), col("c")).as("n_a"),
        (col("a") + col("b") + col("c") - least(col("a"), col("b"),
          col("c")) - greatest(col("a"), col("b"), col("c"))).as("n_b"),
        greatest(col("a"), col("b"), col("c")).as("n_c"))
  }

  /** Per-node graph health report — the link-farm screen the
    * [[triangles]] scaladoc motivates, composed from the SAME
    * materialized relations (symmetrized edges → degrees → oriented →
    * triangles, each checkpointed once): per node its undirected
    * degree, its triangle count (each triangle credits all three
    * corners) and its local clustering coefficient in integer basis
    * points, `cc_bp = 10⁴ · 2·T(v) div (d·(d−1))` — 10000 means every
    * neighbor pair is closed (clique-like, the spam-farm signature on
    * a link graph), 0 means a pure star/tree neighborhood. Degree-1
    * and isolated-in-triangle-terms nodes report cc_bp = 0 (no
    * neighbor pair exists to close). All integer arithmetic: int64
    * holds while 2·10⁴·T(v) < 2⁶³ — T(v) ≤ d(d−1)/2 makes that
    * 10⁴·d² < 2⁶³, i.e. safe to degree ~9.6·10⁸, far past any real
    * node. Shuffle shape on top of [[triangles]]' inventory: one
    * explode-to-corner aggregate at node grain plus the final
    * node-keyed join — both node-shaped, never edge-quadratic.
    */
  def nodeHealth(edges: DataFrame, srcCol: String,
                 dstCol: String): DataFrame = {
    val und = symmetrized(edges, srcCol, dstCol)
    val deg = degreesOf(und)
    val tri = trianglesOf(orientedOf(und, deg))
    val perNode = tri
      .select(explode(array(col("n_a"), col("n_b"), col("n_c")))
        .as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    deg.select(col("n").as("node"), col("d"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"), col("d"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("d") >= 2,
          expr("(20000 * coalesce(n_tri, 0L)) div (d * (d - 1))"))
          .otherwise(lit(0L)).as("cc_bp"))
  }

  /** Missing-link candidates by common-neighborhood evidence — the
    * link-prediction primitive (crawl frontier expansion, related-page
    * suggestion, entity-resolution candidate generation): for every
    * NON-edge pair (a, b) sharing at least one neighbor, the
    * common-neighbor count and the resource-allocation index (Zhou, Lü
    * & Zhang, *Predicting missing links via local information*, EPJ B
    * 2009 — Adamic–Adar's 1/deg sibling, chosen because it is
    * integer-exact where 1/log(deg) is not) in basis points:
    * `ra_bp = Σ_z 10⁴ div deg(z)` over shared neighbors z, each term a
    * truncating div — deterministic, order-invariant under partial
    * aggregation, replayable by any int64 engine; the stated
    * divergence from the real-valued sum is < 1 unit per term.
    *
    * Scale shape: the wedge self-join through each center z costs
    * Σ_z min(deg(z), maxNeighbors)² — the [[cooccurrence]] capped
    * projection EXACTLY: hub adjacencies above `maxNeighbors` are
    * dropped WHOLE (never truncated per-pair — a hub contributes to
    * every pair's evidence or to none, so surviving scores stay
    * internally consistent), and [[linkPredictionAudit]] lists the
    * dropped hubs from the same derivation. Scores use TRUE degrees
    * (the cap bounds candidate generation, not the score definition).
    * Self-loops drop, directions and duplicates collapse (the
    * [[triangles]] normalization). Output: `(id_a, id_b,
    * common_neighbors, ra_bp)` with id_a < id_b, existing edges
    * anti-joined away.
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     maxNeighbors: Int = 1000): DataFrame = {
    require(maxNeighbors >= 2,
      s"linkPrediction: maxNeighbors must be >= 2, got $maxNeighbors")
    val und = symmetrized(edges, srcCol, dstCol)
    val deg = degreesOf(und)
    val adj = Dedup.capBlockRows(
      und.select(col("u").as("z"), col("v").as("nb"))
        .unionAll(und.select(col("v").as("z"), col("u").as("nb"))),
      Seq("z"), maxNeighbors)
    adj.select(col("z"), col("nb").as("a"))
      .join(adj.select(col("z"), col("nb").as("b")), Seq("z"))
      .filter(col("a") < col("b"))
      .join(deg.select(col("n").as("z"), col("d")), Seq("z"))
      .groupBy(col("a"), col("b"))
      // int64 audit (r19 verdict #1 sibling pass): per-term 10000/d ≤
      // 10⁴ and the sum runs over ≤ min(deg,cap) shared neighbors per
      // pair, so ra_bp ≤ 10⁴·cap ≤ 10⁷ at the default cap — five
      // orders under 2⁶³; counts likewise. No widening needed here.
      .agg(count(lit(1)).as("common_neighbors"),
        sum(expr("10000L div d")).as("ra_bp"))
      .join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .select(col("a").as("id_a"), col("b").as("id_b"),
        col("common_neighbors"), col("ra_bp"))
  }

  /** Audit twin of [[linkPrediction]]: the hub nodes whose adjacency
    * exceeds `maxNeighbors` — `(node, degree)` — from the SAME
    * symmetrized adjacency, so candidate generation and audit can
    * never disagree on what dropped. Non-empty means hub evidence is
    * missing from every score: raise the cap deliberately or accept
    * that hubs predict nothing (often right — a page linked by
    * everything is weak pairwise evidence, the classic RA/AA
    * motivation). */
  def linkPredictionAudit(edges: DataFrame, srcCol: String,
                          dstCol: String, maxNeighbors: Int): DataFrame = {
    require(maxNeighbors >= 2,
      s"linkPredictionAudit: maxNeighbors must be >= 2, got $maxNeighbors")
    val und = symmetrized(edges, srcCol, dstCol)
    Dedup.oversizedBlocks(
        und.select(col("u").as("z"), col("v").as("nb"))
          .unionAll(und.select(col("v").as("z"), col("u").as("nb"))),
        Seq("z"), maxNeighbors)
      .select(col("z").as("node"), col("n_rows").as("degree"))
  }

  /** Degree assortativity (Newman, PRL 2002) — the one-number answer to
    * "do hubs link to hubs": the Pearson correlation of endpoint
    * degrees over all ORIENTED edge incidences of the simple undirected
    * graph (each edge sampled in both directions, the standard
    * treatment, so the two marginals coincide). Crawl graphs and social
    * graphs separate cleanly on its sign — disassortative (-) webs vs
    * assortative (+) collaboration networks — which makes it the
    * summary statistic a link-graph health report leads with, next to
    * [[clusteringHealth]]'s per-node view.
    *
    * Exactness: the four sufficient statistics are pure int64 sums over
    * edges (x = du, y = dv): with m2 = 2·|E|,
    * r = (m2·Σxy − (Σx)²) / (m2·Σx² − (Σx)²) — the two bilinear
    * combinations run in DECIMAL(38,0), exact to 10³⁸ (r19 verdict #1,
    * posture corrected by the r20 ANSI audit: under the session's
    * ANSI default a long×long product past 2⁶³ THROWS, killing the
    * whole job at exactly the graph scale the query exists for, while
    * the exact-integer oracle keeps going; decimal widening removes
    * the failure instead of documenting it). Only the final
    * division runs in double (4 dp), the
    * [[graft.ops.Classify.chiSquare2x2]] fixed-order posture; a
    * decimal→double cast rounds to nearest exactly like an
    * exact-integer→double cast, so two engines computing from equal
    * integers still agree bitwise. Regular graphs (zero degree
    * variance) emit NULL — the correlation is undefined, never
    * 0-by-convention. Envelope: the published int64 SUMS need
    * Σx² ≤ 2·|E|·dmax² < 2⁶³ and the decimal combination
    * m2·Σx² ≈ 4·|E|²·dmax² < 10³⁸ — i.e. |E|·dmax² ≲ 4.6·10¹⁸ and
    * |E|·dmax ≲ 5·10¹⁸ — web-crawl scale with nine digits to spare
    * (the old long envelope died at |E|·dmax ≈ 1.5·10⁹, one moderate
    * crawl graph); past even that, decimal overflow still fails LOUD
    * under ANSI, never silently-wrong (OpsSpec plants a star past
    * 2⁶³ and pins r = −1 exactly).
    *
    * Scale shape: one symmetrize+distinct shuffle, one degree
    * aggregate, two degree joins (broadcast when the node table fits),
    * ONE global aggregate — no per-node state beyond the degree table.
    * Output: a single row (n_edges, s_x, s_xy, s_xx, assortativity).
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String): DataFrame = {
    val und = symmetrized(edges, srcCol, dstCol)
    val deg = degreesOf(und)
    // decimal(20,0) inputs → decimal(38,0) products: exact where the
    // old long×long wrapped (r19 verdict #1); scale-0 ops lose nothing
    val m2 = dec(col("n_edges") * 2L)
    val num = m2 * dec(col("s_xy")) - dec(col("s_x")) * dec(col("s_x"))
    val den = m2 * dec(col("s_xx")) - dec(col("s_x")) * dec(col("s_x"))
    und
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("du") + col("dv")).as("s_x"),
        (sum(col("du") * col("dv")) * 2L).as("s_xy"),
        sum(col("du") * col("du") + col("dv") * col("dv")).as("s_xx"))
      .select(col("n_edges"), col("s_x"), col("s_xy"), col("s_xx"),
        when(den === 0 || col("s_x").isNull, lit(null).cast("double"))
          .otherwise(round(num.cast("double") / den.cast("double"), 4))
          .as("assortativity"))
  }
}
