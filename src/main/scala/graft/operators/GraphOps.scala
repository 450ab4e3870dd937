package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph view + graph analytics over DataFrames (SURVEY §4.2.3, §7 M7).
  *
  * The reference materializes a property graph of key-joined node
  * tables (§1.2/§1.3); here the graph IS the pair (vertices DF,
  * edges DF), and the algorithms are iterative DataFrame programs.
  * The message-passing ones (PageRank, HITS, components, SSSP) run
  * every round as one [[superstep]]: vertex state ⋈ edges → messages →
  * group-by on the receiving vertex — the plan Pregelix and GraphX's
  * Pregel generate, but in DataFrames so Catalyst/AQE optimize it and
  * the DuckDB oracle can replay it. Each superstep shuffles its
  * messages by receiver, and its state ⋈ edge join plans an exchange
  * or a broadcast as well (checkpointed edges record no partitioning
  * under AQE, see [[pageRank]]). The converged forms share one
  * convergence loop, [[converge]].
  *
  * Determinism: per-iteration sums go through a decimal cast
  * ([[qsum]]), so the ranks are bit-identical regardless of
  * partitioning — an engine running on 1000 executors produces the
  * same bytes as DuckDB single-threaded.
  */
object GraphOps {

  /** Decimal-exact sum on the 1e-9 grid. The decimal sum is
    * partition-order-free; the decimal→double hop goes through an exact
    * integer (×1e9, round, BIGINT) because a direct decimal→double cast
    * is correctly rounded in the JVM but 1-ulp off in engines that
    * convert via (int128→double)/10^scale — that ulp compounds across
    * iterations on hub vertices.
    */
  private def qsum(c: Column): Column =
    round(sum(c.cast("decimal(27,15)")) * 1000000000L)
      .cast("long").cast("double") / 1.0e9

  /** The vertex set (id) of an edge frame (src, dst). */
  private def vertexIds(e: DataFrame): DataFrame =
    e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct()

  /** Both directions of every edge, as (src, dst). */
  private def symmetric(e: DataFrame): DataFrame =
    e.select(col("src"), col("dst"))
      .union(e.select(col("dst").as("src"), col("src").as("dst")))

  /** The undirected simple edge set as (a, b) with a < b: self-loops
    * dropped, every vertex pair once.
    */
  private def canonical(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** One message-passing superstep: every edge whose `src` has a row in
    * `state` (keyed by `id`) sends `message` to its `dst`, and the
    * messages are combined per receiving vertex by the aggregate
    * `combine`. Zero-padding rows `pad` (id, m), if given, join the
    * messages before the group-by, and their value column m names the
    * message. Output: (id, combine). The group-by is the round's
    * shuffle; the state is referenced once, so a chain of supersteps
    * grows its plan linearly and runs as one job of pipelined shuffle
    * stages.
    */
  private def superstep(edges: DataFrame, state: DataFrame, message: Column,
                        combine: Column => Column, pad: Option[DataFrame] = None): DataFrame = {
    val joined = edges.join(state, edges("src") === state("id"))
    pad.fold(joined.groupBy(col("dst").as("id")).agg(combine(message))) { p =>
      val m = p.columns.last
      joined.select(col("dst").as("id"), message.as(m)).unionByName(p)
        .groupBy(col("id")).agg(combine(col(m)))
    }
  }

  /** PageRank's message edges (src, dst, frac): frac = w / Σ_out w over
    * the integer weights `w`, or 1 / outdeg at unit weight — one IEEE
    * division per edge that every engine computes identically.
    */
  private def fracEdges(e: DataFrame, weighted: Boolean = false): DataFrame = {
    val (out, frac) =
      if (weighted) (sum(col("w")), col("w").cast("double") / col("out").cast("double"))
      else (count(lit(1)), lit(1.0) / col("out"))
    e.join(e.groupBy(col("src")).agg(out.as("out")), "src")
      .select(col("src"), col("dst"), frac.as("frac"))
  }

  /** The checkpointed PageRank inputs over checkpointed edges `e`: the
    * vertex set, the [[fracEdges]] spread on src, and one zero
    * contribution per vertex. The zero rows replace a per-iteration
    * `vertices LEFT JOIN summed` that re-attached vertices without
    * inflow: summing an extra 0 is a no-op for receivers and yields
    * reset + damp·0 for the rest — identical values, one fewer join
    * per iteration.
    */
  private def rankEdges(e: DataFrame, scope: CacheScope, weighted: Boolean = false)
      : (DataFrame, DataFrame, DataFrame) = {
    val vertices = scope.checkpoint(vertexIds(e))
    val frac = scope.checkpoint(fracEdges(e, weighted).repartition(col("src")))
    (vertices, frac, scope.checkpoint(vertices.select(col("id"), lit(0.0).as("contrib"))))
  }

  /** One PageRank step over [[rankEdges]]: rank(v) = reset + damp ·
    * qsum_{u→v} rank(u)·frac(u, v).
    */
  private def rankStep(frac: DataFrame, ranks: DataFrame, zeros: DataFrame,
                       reset: Double, damp: Double): DataFrame =
    superstep(frac, ranks, col("rank") * col("frac"),
      m => (lit(reset) + lit(damp) * qsum(m)).as("rank"), Some(zeros))

  /** Connected components' inputs over checkpointed edges `e`: the
    * checkpointed vertex set and undirected edges spread on src. The
    * undirected edges carry one self-loop per vertex, which makes the
    * recurrence min over neighbours ∪ self: comp_t is referenced once
    * per round (the superstep's join) instead of twice (join source +
    * "keep own label" join target), and the values are identical.
    */
  private def ccEdges(e: DataFrame, scope: CacheScope): (DataFrame, DataFrame) = {
    val vertices = scope.checkpoint(vertexIds(e))
    (vertices, scope.checkpoint(symmetric(e)
      .union(vertices.select(col("id").as("src"), col("id").as("dst")))
      .repartition(col("src"))))
  }

  /** One min-label step: comp(v) = min over v's neighbours ∪ v. */
  private def ccStep(undirected: DataFrame, comp: DataFrame): DataFrame =
    superstep(undirected, comp, col("comp"), min(_).as("comp"))

  /** Deterministic PageRank: rank_{t+1}(v) = reset + damp * Σ_{u→v}
    * rank_t(u) / outdeg(u), fixed iteration count, dangling mass
    * dropped. Input: edges (src: long, dst: long).
    */
  def pageRank(edges: DataFrame, iterations: Int,
               reset: Double = 0.15, damp: Double = 0.85,
               scope: CacheScope = CacheScope.global): DataFrame = {
    // The input lineage is referenced 4× by the setup (vertices union
    // twice, out-degree, fractions), and every iteration's logical plan
    // would embed it again — localCheckpoint materializes it ONCE and
    // replaces the lineage with a LogicalRDD, so iteration plans stay
    // constant-size (a persist alone caches execution but Catalyst
    // still re-analyzes the full tree).
    // The checkpoints do NOT carry their hash partitioning: under AQE
    // the checkpointed plan is an AdaptiveSparkPlanExec, which reports
    // UnknownPartitioning(0), so the LogicalRDD of `repartition(src)`
    // records no partitioning and every iteration's rank⋈edge join
    // plans an exchange or a broadcast. The `repartition(src)` only
    // spreads the edges evenly.
    val (vertices, frac, zeros) = rankEdges(scope.checkpoint(edges), scope)
    // rank_t is referenced exactly ONCE per iteration, so the plan
    // grows LINEARLY — no lineage truncation needed, and the loop runs
    // as one job of pipelined shuffle stages instead of `iterations`
    // blocking materialization jobs.
    (1 to iterations).foldLeft(vertices.select(col("id"), lit(1.0).as("rank"))) {
      (ranks, _) => rankStep(frac, ranks, zeros, reset, damp)
    }
  }

  /** Edge-weighted PageRank: rank_{t+1}(v) = reset + damp ·
    * Σ_{u→v} rank_t(u) · w(u,v) / Σ_out w(u) — the weight-proportional
    * generalization of [[pageRank]] (which this matches exactly at
    * w ≡ 1). Input: edges (src, dst, w: integer weights, so the
    * normalized fraction w / Σw is one deterministic double both
    * engines compute identically). Same iteration discipline as
    * [[pageRank]]: checkpointed edges, zero-contribution union instead
    * of a per-iteration vertex join, decimal-quantized sums.
    *
    * Weights must be POSITIVE: a non-positive edge weight would give
    * a src with sum(w) ≤ 0 whose fractions are NaN/negative and
    * silently zero downstream ranks through the decimal quantization
    * (non-ANSI cast). Such edges are rejected loudly up front.
    */
  def pageRankWeighted(edges: DataFrame, iterations: Int,
                       reset: Double = 0.15, damp: Double = 0.85,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.checkpoint(edges.select(col("src"), col("dst"),
      col("w").cast("long").as("w")))
    val badW = e.filter(col("w") <= 0 || col("w").isNull).count()
    require(badW == 0,
      "pageRankWeighted: edge weights must be positive non-null " +
        "(found a w <= 0 or NULL edge); filter or reweight upstream")
    val (vertices, frac, zeros) = rankEdges(e, scope, weighted = true)
    (1 to iterations).foldLeft(vertices.select(col("id"), lit(1.0).as("rank"))) {
      (ranks, _) => rankStep(frac, ranks, zeros, reset, damp)
    }
  }

  /** Connected components by iterative min-label propagation over the
    * undirected edge set: comp_{t+1}(v) = min(comp_t(v),
    * min_{(u,v)∈E} comp_t(u)). Converges in diameter iterations;
    * deterministic (min is order-free).
    */
  def connectedComponents(edges: DataFrame, iterations: Int,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    // The input lineage is referenced twice by the symmetric union;
    // localCheckpoint materializes it once and keeps iteration plans
    // constant-size. With the self-loops of [[ccEdges]] comp_t is
    // referenced once per iteration, so the plan grows linearly — no
    // per-iteration lineage truncation, and the whole loop executes as
    // ONE job of pipelined shuffle stages (same trick as pageRank). As
    // in pageRank, the checkpointed undirected edges record no
    // partitioning under AQE, so the propagation join plans an
    // exchange or a broadcast per iteration besides the min-aggregate's
    // shuffle.
    val (vertices, undirected) = ccEdges(scope.checkpoint(edges), scope)
    (1 to iterations).foldLeft(vertices.select(col("id"), col("id").as("comp"))) {
      (comp, _) => ccStep(undirected, comp)
    }
  }

  /** Synchronous label propagation (community detection), `iterations`
    * rounds: every vertex starts as its own label; each round it
    * adopts the MOST FREQUENT label among its neighbors (undirected),
    * ties broken toward the smallest label so the result is
    * deterministic. Differs from [[connectedComponents]] exactly in
    * the vote: mode-of-neighbors finds dense communities inside a
    * component, min-of-neighbors finds the component itself.
    *
    * Plan shape per round: ONE join (labels against the checkpointed
    * undirected edge list, same discipline as pageRank) and TWO
    * map-side-combined hash aggregates — the (vertex, label) vote
    * count, then the per-vertex argmax. The two aggregates are keyed
    * differently, so the round is not one [[superstep]]. The
    * argmax is `max_by` over (count, −label) — an aggregate, never a
    * rank-1 window, so a hub's votes combine map-side instead of
    * sorting on one reducer. Labels are referenced once per round, so
    * the logical plan grows linearly and needs no per-round
    * checkpoint. Every vertex derived from the edge list has a
    * neighbor, so no keep-own fallback join is needed.
    */
  def labelPropagation(edges: DataFrame, iterations: Int,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.checkpoint(edges)
    val undirected = scope.checkpoint(symmetric(e).repartition(col("src")))
    var lbl = vertexIds(e).select(col("id"), col("id").as("lbl"))
    for (_ <- 1 to iterations) {
      val votes = undirected.join(lbl, undirected("src") === lbl("id"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      lbl = votes.groupBy(col("dst").as("id"))
        .agg(max_by(col("lbl"), struct(col("c"), -col("lbl"))).as("lbl"))
    }
    lbl
  }

  /** Multi-source BFS / unit-weight shortest paths along edge
    * direction: dist(v) = hops from the nearest source, null if
    * unreachable within `iterations`. Same Pregel shape and the same
    * plan discipline as [[connectedComponents]]: zero-weight
    * self-loops make the recurrence `min over in-edges ∪ self`, so
    * the frontier frame is referenced once per iteration, the plan
    * grows linearly, and each iteration is one join against the
    * checkpointed hop relation plus the min-aggregate. `iterations`
    * must be >= the radius of interest; unreached vertices surface as
    * null, not a sentinel, so truncation is visible to the caller.
    */
  def shortestPaths(edges: DataFrame, sources: DataFrame, iterations: Int,
                    scope: CacheScope = CacheScope.global): DataFrame =
    weightedSssp(edges.select(col("src"), col("dst"), lit(1L).as("w")),
      sources, iterations, scope)

  /** The level loop of the bounded path expanders ([[kHopPaths]],
    * [[kCheapestPaths]]): hop h is ONE equi-join of the frontier (paths
    * of h−1 hops, keyed by their end vertex) against the src-spread
    * edges, dropping every extension that revisits a vertex. Weighted
    * paths also carry `cost`, the sum of the edges' long `w`. Each level
    * is checkpointed, so the plan stays linear in `maxHops`. Output:
    * every level's paths tagged with `hops`.
    */
  private def expandPaths(edges: DataFrame, sources: DataFrame, maxHops: Int,
                          weighted: Boolean, scope: CacheScope): DataFrame = {
    def ifWeighted(c: => Column): Seq[Column] = if (weighted) Seq(c) else Nil
    val e = scope.checkpoint(
      edges.select(Seq(col("src"), col("dst")) ++ ifWeighted(col("w").cast("long").as("w")): _*)
        .repartition(col("src")))
    var frontier = sources.select(Seq(col("id").as("start"), col("id").as("end"),
      array(col("id")).as("path")) ++ ifWeighted(lit(0L).as("cost")): _*)
    (1 to maxHops).map { h =>
      frontier = scope.checkpoint(
        frontier.join(e, frontier("end") === e("src"))
          .filter(!array_contains(col("path"), col("dst")))
          .select(Seq(col("start"), col("dst").as("end"),
            concat(col("path"), array(col("dst"))).as("path")) ++
            ifWeighted((col("cost") + col("w")).as("cost")): _*))
      frontier.withColumn("hops", lit(h))
    }.reduce(_ unionByName _)
  }

  /** K-CHEAPEST simple paths within a hop bound: enumerate every
    * simple directed path of 1..maxHops over weighted edges
    * (src, dst, w: long), then keep the `k` cheapest per
    * (start, end) pair under the TOTAL order (cost, path) — the path
    * array is the unique tiebreak, and both Spark and SQL engines
    * order integer arrays lexicographically, so the selection
    * replays exactly. Exact by construction: all bounded simple
    * paths are enumerated before ranking ([[kHopPaths]] cost model —
    * the true path count, bounded by maxHops and the source set).
    * The rank window partitions by (start, end): at scale that
    * shuffle carries only enumerated paths, and the per-pair
    * partition is the path multiplicity between one vertex pair —
    * never a global sort. Output: (start, end, hops, cost, path,
    * rank) with rank ≤ k.
    */
  def kCheapestPaths(edges: DataFrame, sources: DataFrame,
                     maxHops: Int, k: Int,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    require(maxHops >= 1 && k >= 1, "maxHops and k must be >= 1")
    val w = Window.partitionBy(col("start"), col("end"))
      .orderBy(col("cost").asc, col("path").asc)
    expandPaths(edges, sources, maxHops, weighted = true, scope)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("start"), col("end"), col("hops"), col("cost"),
        col("path"), col("rank"))
  }

  /** Bounded k-hop path EXPAND with full path accumulation — the
    * DataFrame form of Cypher's variable-length pattern
    * `(s)-[*1..k]->(v)`: from each source, every simple path of 1..k
    * directed hops, as (start, end, hops, path[ids]). "Simple" means
    * no repeated vertex within a path (`array_contains` guard), which
    * is Cypher's own trail/no-revisit semantics for bounded patterns
    * and also what keeps the expansion finite on cyclic graphs.
    *
    * Scale design: hop h is ONE equi-join of the frontier (paths of
    * length h−1, shuffled on their end vertex) against the
    * src-partitioned edge relation — the standard distributed
    * path-expand; total cost is the true path-count, which the
    * caller bounds by `maxHops` and the source set. The path array
    * grows to at most k+1 longs, so frontier rows stay narrow; no
    * driver-side state, no recursion. The per-level frames are
    * checkpointed so the logical plan stays linear in k.
    *
    * The output is deterministic set semantics (paths are values, no
    * ordering) and replays in any engine as k unrolled self-joins —
    * the oracle form.
    */
  def kHopPaths(edges: DataFrame, sources: DataFrame, maxHops: Int,
                scope: CacheScope = CacheScope.global): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    expandPaths(edges, sources, maxHops, weighted = false, scope)
      .select(col("start"), col("end"), col("hops"), col("path"))
  }

  /** Weighted single-source(s) shortest paths — Bellman-Ford
    * relaxation over integer-weight edges (src, dst, w), fixed
    * `iterations` rounds. Per round ONE shuffle: the edge join on the
    * current distance frame + a min-aggregate; the zero-weight
    * self-loop union keeps settled distances in play without a
    * second union branch. Distances are exact BIGINTs, so a depth-k
    * run is the true minimum over paths of ≤ k edges and any engine
    * replays it bit-for-bit ([[shortestPaths]] is the w ≡ 1 case).
    * Unreachable-within-k vertices emit NULL.
    */
  def weightedSssp(edges: DataFrame, sources: DataFrame, iterations: Int,
                   scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.checkpoint(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w")))
    // Sources are unioned into the vertex set so an isolated source
    // (no incident edges) still surfaces with dist=0 rather than
    // silently vanishing from the output.
    val vertices = scope.checkpoint(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .union(sources.select(col("id"))).distinct())
    val hop = scope.checkpoint(e
      .union(vertices.select(col("id").as("src"), col("id").as("dst"),
        lit(0L).as("w")))
      .repartition(col("src")))
    // distinct() guards against duplicate source ids feeding duplicate
    // seed rows into the first min-aggregate.
    val seeds = sources.select(col("id")).distinct().withColumn("dist", lit(0L))
    val dist = (1 to iterations).foldLeft(seeds) { (d, _) =>
      superstep(hop, d, col("dist") + col("w"), min(_).as("dist"))
    }
    vertices.join(dist, Seq("id"), "left").select(col("id"), col("dist"))
  }

  /** One round of a convergence loop: checkpoint the round's state
    * `next` and count, in that same job, the rows where `signal`
    * holds (an [[Observation]] on the checkpointed plan). A separate
    * `limit(1).count()` probe would cost one more job per round, and
    * its generated code never hits the codegen cache: Spark names
    * every limit plan's row counter from a global sequence, so each
    * probe compiles fresh classes. Returns the checkpointed state and
    * the count.
    */
  private def observedRound(next: DataFrame, signal: Column,
                            scope: CacheScope): (DataFrame, Long) = {
    val obs = Observation()
    val state = scope.checkpoint(next.observe(obs, sum(signal.cast("long")).as("n")))
    // the sum over an empty state is null: nothing signalled
    (state, Option(obs.get("n")).fold(0L)(_.asInstanceOf[Long]))
  }

  /** The convergence loop of the converged forms. From the
    * checkpointed state `start` (`pending` rows signalled), it runs
    * windows of up to `window` steps until a window ends with no row
    * where `signal` holds, or until `maxIterations` steps have run (the
    * runaway bound). `round(state, steps)` builds one window of `steps`
    * steps as one lazy plan — the window pipelines as one job of
    * shuffle stages — and returns the window's new state joined with
    * whatever `signal` compares it against. Each window ends in one
    * [[observedRound]], whose checkpoint job also counts the signal;
    * the new state keeps `start`'s columns.
    */
  private def converge(start: DataFrame, window: Int, maxIterations: Int,
                       signal: Column, scope: CacheScope, pending: Long = 1L)
                      (round: (DataFrame, Int) => DataFrame): DataFrame = {
    val cols = start.columns.toSeq.map(col)
    var (state, n, iter) = (start, pending, 0)
    while (n > 0L && iter < maxIterations) {
      val steps = math.min(window, maxIterations - iter)
      val (next, signalled) = observedRound(round(state, steps), signal, scope)
      state = next.select(cols: _*)
      n = signalled
      iter += steps
    }
    state
  }

  /** Convergence-safe connected components: same min-label propagation
    * as [[connectedComponents]], iterated until NO label changed in a
    * round (counted by the round's checkpoint job, see
    * [[observedRound]]) or `maxIterations` as a runaway bound. A
    * fixed-depth run silently splits any component whose diameter exceeds the depth —
    * at corpus scale a dup chain longer than the depth under-dedups —
    * so this is the production path; the fixed-depth form stays for
    * oracle replay (a data-dependent iteration count cannot be
    * mirrored in static SQL).
    *
    * Each window's labels are checkpointed: without materialization
    * round t+1 would recompute rounds 1..t.
    */
  def connectedComponentsConverged(edges: DataFrame, maxIterations: Int = 50,
                                   scope: CacheScope = CacheScope.global): DataFrame = {
    // convergence-loop floor scope (r17) — see [[kCore]]: per-window
    // checkpoint actions run at Spark's 1m floor (32-core A/B:
    // g_connected_components 2.57 s at 256k vs 2.18 s at 1m, g_mis
    // 6.65 vs 5.40).
    graft.GraftSession.withMinCoalesced(edges.sparkSession, "1m") {
      val (vertices, undirected) = ccEdges(scope.checkpoint(edges), scope)
      // Windows of 3 steps (the pageRankConverged cadence): labels only
      // DECREASE, so "no vertex changed across the whole window" is
      // EXACTLY "no step in the window changed anything" — the check
      // against the window-start state is exact, and "any label
      // strictly smaller" is "changed".
      converge(scope.checkpoint(vertices.select(col("id"), col("id").as("comp"))),
        window = 3, maxIterations, col("comp") < col("prev"), scope) { (comp, steps) =>
        (1 to steps).foldLeft(comp)((cur, _) => ccStep(undirected, cur))
          .join(comp.select(col("id"), col("comp").as("prev")), "id")
      }
    }
  }

  /** Personalized PageRank: random walks restart at the SOURCE set
    * instead of uniformly — rank_{t+1}(v) = reset·1{v ∈ sources} +
    * damp·Σ_{u→v} rank_t(u)/outdeg(u), rank_0 = 1{v ∈ sources}. The
    * graph-retrieval primitive ("importance relative to THESE nodes"
    * — recommendation seeds, query-time personalization), with the
    * same exact 1e-9-quantized decimal sums as [[pageRank]] so the
    * oracle replays the iteration chain bit-for-bit.
    *
    * Plan shape: the per-vertex reset vector is checkpointed once and
    * re-joined to each iteration's aggregate output. The checkpoint
    * records no partitioning under AQE (see [[pageRank]]), so that
    * re-join, like the contribution join, plans an exchange or a
    * broadcast per iteration.
    * `sources` is an (id) frame; ids absent from the graph contribute
    * nothing.
    */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
                           iterations: Int,
                           reset: Double = 0.15, damp: Double = 0.85,
                           scope: CacheScope = CacheScope.global): DataFrame = {
    val (vertices, frac, zeros) = rankEdges(scope.checkpoint(edges), scope)
    val srcSet = sources.select(col("id")).distinct()
      .withColumn("__s", lit(1))
    val resetVec = scope.checkpoint(
      vertices.join(broadcast(srcSet), Seq("id"), "left")
        .select(col("id"),
          when(col("__s").isNotNull, lit(reset)).otherwise(lit(0.0))
            .as("reset_w"))
        .repartition(col("id")))
    val start = resetVec.select(col("id"),
      when(col("reset_w") > 0.0, lit(1.0)).otherwise(lit(0.0)).as("rank"))
    (1 to iterations).foldLeft(start) { (ranks, _) =>
      superstep(frac, ranks, col("rank") * col("frac"),
        m => (lit(damp) * qsum(m)).as("inflow"), Some(zeros))
        .join(resetVec, "id")
        .select(col("id"), (col("reset_w") + col("inflow")).as("rank"))
    }
  }

  /** Convergence-safe PageRank: same recurrence (and the same exact
    * 1e-9-quantized decimal sums) as [[pageRank]], iterated until no
    * vertex's rank moved more than `tol` in a round — counted by the
    * round's checkpoint job like [[connectedComponentsConverged]] — or
    * `maxIterations` as the runaway bound. A fixed iteration count
    * under-converges hub-heavy graphs whose mixing time exceeds the
    * depth; this is the production path, while the fixed-depth form
    * stays for oracle replay (a data-dependent iteration count cannot
    * be mirrored in static SQL).
    *
    * Each window's ranks are checkpointed: the state is referenced
    * twice (contribution join + delta check) — the price is one
    * blocking materialization per window, the same trade the CC/k-core
    * converged forms make. Termination is guaranteed even for tiny
    * `tol`: the damped recurrence contracts deltas by `damp` per round
    * and ranks live on the 1e-9 quantization grid, so the sequence
    * reaches an exact fixpoint.
    */
  def pageRankConverged(edges: DataFrame, tol: Double = 1e-7,
                        maxIterations: Int = 50,
                        reset: Double = 0.15, damp: Double = 0.85,
                        scope: CacheScope = CacheScope.global): DataFrame = {
    require(tol > 0.0 && maxIterations >= 1)
    val (vertices, frac, zeros) = rankEdges(scope.checkpoint(edges), scope)
    // Windows of 3 recurrence steps run as ONE job of pipelined
    // shuffle stages instead of 3 blocking checkpoint jobs. A
    // tol-fixpoint stays a fixpoint under extra iterations (the
    // recurrence is a contraction), so overshooting by ≤2 steps changes
    // nothing the certificate or oracle can see.
    converge(scope.checkpoint(vertices.select(col("id"), lit(1.0).as("rank"))),
      window = 3, maxIterations, abs(col("rank") - col("prev")) > tol, scope) {
      (ranks, steps) =>
        // the stopping criterion stays the SINGLE-step delta (what the
        // certificate's residual bound assumes): compare the window's
        // last step against the state just before it — beforeLast is
        // referenced twice (inside the step's plan and by the delta
        // join), which at window size 3 keeps plans bounded
        val beforeLast = (1 until steps).foldLeft(ranks) {
          (cur, _) => rankStep(frac, cur, zeros, reset, damp)
        }
        rankStep(frac, beforeLast, zeros, reset, damp)
          .join(beforeLast.select(col("id"), col("rank").as("prev")), "id")
    }
  }

  // ---------------------------------------------------------------
  // Fixpoint certificates: the converged forms iterate a
  // data-dependent number of rounds, which no static SQL can unroll —
  // so their CORRECTNESS entries check the FIXPOINT PROPERTY instead
  // of the trajectory. Each certificate recomputes one application of
  // the recurrence from the OUTPUT itself (the engine's own step) and
  // emits rows whose correct values are knowable to the
  // oracle without replaying: the vertex list (graph-derived) and
  // all-true / all-zero violation columns. An under-converged run
  // cannot reproduce them — the residual check fails on exactly the
  // vertices whose values were still moving.
  // ---------------------------------------------------------------

  /** Per-vertex PageRank fixpoint certificate over `ranks` (the (id,
    * rank) output of [[pageRankConverged]]): recompute expected(v) =
    * reset + damp·Σ rank(u)/outdeg(u) with the engine's own step
    * ([[rankStep]]) and flag |rank − expected| within the contraction
    * bound. At a tol-fixpoint the residual of vertex v is at most
    * damp·(in_mass(v)·tol + q) where in_mass(v) = Σ_{u→v} 1/outdeg(u)
    * (each in-neighbor moved ≤ tol in the final round) and q = 1e-9 is
    * one quantization step — the per-vertex bound used here, plus 1e-8
    * slack. Emits (id, converged): every graph vertex exactly once,
    * all true iff the claimed fixpoint holds.
    */
  def pageRankCertificate(edges: DataFrame, ranks: DataFrame, tol: Double,
                          reset: Double = 0.15, damp: Double = 0.85,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst")))
    val frac = scope.persist(fracEdges(e))
    val expected = rankStep(frac, ranks.select(col("id"), col("rank")),
      vertexIds(e).select(col("id"), lit(0.0).as("contrib")), reset, damp)
    val inMass = frac.groupBy(col("dst").as("id"))
      .agg(sum(col("frac")).as("in_mass"))
    ranks.join(expected.select(col("id"), col("rank").as("expected")), "id")
      .join(inMass, Seq("id"), "left")
      .select(col("id"),
        (abs(col("rank") - col("expected")) <=
          lit(damp) * (coalesce(col("in_mass"), lit(0.0)) * lit(tol) + lit(1e-9))
            + lit(1e-8)).as("converged"))
  }

  /** Per-vertex connected-components fixpoint certificate over `comp`
    * (the (id, comp) output of [[connectedComponentsConverged]]). A
    * min-propagation fixpoint initialized from self-labels satisfies,
    * for every vertex: (a) comp(v) ≤ v (labels only decrease from the
    * id init); (b) no undirected neighbor carries a smaller label —
    * with symmetry that makes comp constant along every edge, exactly
    * the property an under-iterated run violates; (c) the label is a
    * self-labeled root: comp(comp(v)) = comp(v). Emits (id,
    * converged): every graph vertex exactly once, all true iff the
    * fixpoint holds.
    */
  def connectedComponentsCertificate(edges: DataFrame, comp: DataFrame,
                                     scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(edges.select(col("src"), col("dst")))
    val labels = scope.persist(comp.select(col("id"), col("comp")))
    val nbrMin = superstep(symmetric(e), labels.select(col("id"), col("comp").as("c")),
      col("c"), min(_).as("nbr_min"))
    val roots = labels.filter(col("id") === col("comp"))
      .select(col("comp"), lit(true).as("root_ok"))
    labels.join(nbrMin, Seq("id"), "left")
      .join(roots, Seq("comp"), "left")
      .select(col("id"),
        (col("comp") <= col("id") &&
          coalesce(col("nbr_min") >= col("comp"), lit(true)) &&
          coalesce(col("root_ok"), lit(false))).as("converged"))
  }

  /** k-core fixpoint certificate over `core` (the (id, degree) output
    * of [[kCoreConverged]]): restrict the canonicalized edge set to
    * the surviving vertices and recompute induced degrees. At the
    * k-core fixpoint (i) every induced degree is ≥ k — equivalently,
    * one more peel removes nothing — and (ii) the reported degrees
    * equal the induced recomputation (the final edge set IS the
    * induced subgraph on survivors, since peeling only drops edges at
    * removed endpoints). Emits ONE row (n_vertices, n_below_k,
    * n_deg_mismatch): the graph's vertex count (oracle-computable) and
    * two violation counts that are 0 iff the fixpoint holds.
    */
  def kCoreCertificate(edges: DataFrame, core: DataFrame, k: Int,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(canonical(edges))
    val surv = scope.persist(core.select(col("id"), col("degree")))
    val induced = e
      .join(surv.select(col("id").as("a")), Seq("a"), "left_semi")
      .join(surv.select(col("id").as("b")), Seq("b"), "left_semi")
    val indDeg = induced.select(col("a").as("id"))
      .union(induced.select(col("b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("ind_d"))
    val checks = surv.join(indDeg, Seq("id"), "left")
      .agg(
        coalesce(sum(when(coalesce(col("ind_d"), lit(0L)) < k, 1L)
          .otherwise(0L)), lit(0L)).as("n_below_k"),
        coalesce(sum(when(coalesce(col("ind_d"), lit(0L)) =!= col("degree"), 1L)
          .otherwise(0L)), lit(0L)).as("n_deg_mismatch"))
    val nVerts = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .agg(count_distinct(col("id")).as("n_vertices"))
    nVerts.crossJoin(checks) // two 1-row aggregates
  }

  /** GraphX-backed PageRank over the same edge DataFrame — the
    * VertexRDD/EdgeRDD execution path (BASELINE.json north star).
    * Same recurrence as [[pageRank]] but float sums follow GraphX's
    * partition order, so it is NOT bit-deterministic — use the
    * DataFrame form when results must be reproducible/oracle-checked,
    * this one to interop with the GraphX algorithm library.
    */
  def pageRankGraphX(edges: DataFrame, iterations: Int,
                     reset: Double = 0.15): DataFrame = {
    import org.apache.spark.graphx.{Edge, Graph}
    val spark = edges.sparkSession
    val edgeRdd = edges.select(col("src"), col("dst")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val graph = Graph.fromEdges(edgeRdd, defaultValue = 1.0)
    val ranks = graph.staticPageRank(iterations, reset).vertices
    spark.createDataFrame(ranks.map { case (id, r) => (id, r) })
      .toDF("id", "rank")
  }

  /** Degree table: per vertex, out-, in-, and total degree. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("out_deg"))
    val in = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("in_deg"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .withColumn("degree", col("out_deg") + col("in_deg"))
  }

  /** k-core decomposition by iterative peeling: drop every vertex
    * with degree < k, recompute degrees, repeat. After enough rounds
    * the survivors are exactly the k-core (the maximal subgraph of
    * min-degree ≥ k) — the "dense kernel" filter for co-occurrence
    * graphs (boilerplate-product clusters, spam rings) where
    * [[triangleCount]] is the density METRIC and this is the density
    * EXTRACTOR. Fixed `iterations` so the oracle can replay the
    * unrolled peel; callers needing guaranteed convergence use
    * [[kCoreConverged]] (peeling is monotone, so a round that removes
    * nothing marks THE k-core). Each round is one degree
    * aggregate + two semi-join filters, checkpointed so round t+1
    * does not recompute rounds 1..t. A peel, not message passing, so
    * the round is not a [[superstep]].
    *
    * Input treated as undirected; self-loops dropped, edges
    * canonicalized + distinct. Returns surviving (id, degree).
    */
  def kCore(edges: DataFrame, k: Int, iterations: Int,
            scope: CacheScope = CacheScope.global): DataFrame = {
    require(k >= 1 && iterations >= 1)
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("id")).union(e.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d"))
    // convergence-loop floor scope (r17): each peel round materializes
    // a tiny edge set — the global 256k AQE floor over-fans those
    // per-round shuffles into rounds x tasks x fixed-cost task storms
    // (32-core A/B: 4.31 s at 256k vs 3.36 s at 1m). The round loop
    // runs at Spark's 1m default; the terminal degree aggregate (lazy,
    // runs at the caller's action) keeps the session floor.
    graft.GraftSession.withMinCoalesced(edges.sparkSession, "1m") {
      var e = scope.checkpoint(canonical(edges))
      for (_ <- 1 to iterations) {
        val keep = degrees(e).filter(col("d") >= k).select(col("id"))
        e = scope.checkpoint(e
          .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b")))
      }
      degrees(e).withColumnRenamed("d", "degree")
    }
  }

  /** The symmetric adjacency (v, n) of the canonical undirected edge
    * set: one row per directed neighbour pair.
    */
  private def adjacency(edges: DataFrame): DataFrame = {
    val canon = canonical(edges)
    canon.select(col("a").as("v"), col("b").as("n"))
      .union(canon.select(col("b").as("v"), col("a").as("n")))
  }

  /** Convergence-safe k-core: same peeling recurrence as [[kCore]],
    * iterated until a round removes nothing — and since peeling is
    * monotone, that fixed point IS the k-core — with `maxIterations`
    * as a runaway bound. A fixed-depth peel that stops early returns a
    * SUPERSET of the k-core (vertices of degree < k still present —
    * under-filtering, the mirror of fixed-depth CC's under-dedup), so
    * this is the production path; [[kCore]] stays for oracle replay (a
    * data-dependent round count cannot be mirrored in static SQL).
    *
    * Frontier form (Pregelix's active-vertex plan): the state is
    * (id, deg, alive) over a checkpointed symmetric adjacency, and in
    * each round only the vertices peeled that round (alive, deg < k)
    * send −1 to their neighbours — one degree aggregate per round,
    * over the frontier's edges only. The rounds run through
    * [[converge]] one step per window: each round's checkpoint job
    * also counts the next round's frontier, so an empty frontier ends
    * the loop without a probe job. After the same number of rounds
    * the survivors and their degrees equal [[kCore]]'s.
    *
    * Returns surviving (id, degree); on a runaway-bound exit the
    * non-convergence is visible as degree < k rows in the output.
    */
  def kCoreConverged(edges: DataFrame, k: Int, maxIterations: Int = 50,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    require(k >= 1 && maxIterations >= 1)
    // convergence-loop floor scope (r17) — see [[kCore]]: the per-round
    // checkpoint actions run at Spark's 1m floor (32-core A/B via
    // g_kcore_cert: 4.26 s at 256k vs 3.02 s at 1m).
    graft.GraftSession.withMinCoalesced(edges.sparkSession, "1m") {
      val adj = scope.checkpoint(adjacency(edges))
      val frontier = col("alive") && col("deg") < k
      val (start, peeling) = observedRound(
        adj.groupBy(col("v").as("id")).agg(count(lit(1)).as("deg"))
          .withColumn("alive", lit(true)), frontier, scope)
      val core = converge(start, window = 1, maxIterations, frontier, scope, peeling) {
        (state, _) =>
          val dec = adj.join(state.filter(frontier).select(col("id").as("n")), "n")
            .groupBy(col("v").as("id")).agg(count(lit(1)).as("dec"))
          // both columns read the round's input deg: a vertex is peeled
          // on the degree it entered the round with
          state.join(dec, Seq("id"), "left")
            .select(col("id"),
              (col("deg") - coalesce(col("dec"), lit(0L))).as("deg"),
              (col("alive") && col("deg") >= k).as("alive"))
      }
      // a survivor whose neighbours all peeled in the last round has
      // no edge left; like [[kCore]], list the surviving edge set's
      // vertices (only reachable on a runaway-bound exit, as k >= 1)
      core.filter(col("alive") && col("deg") > 0)
        .select(col("id"), col("deg").as("degree"))
    }
  }

  /** Exact triangle count via degree-ordered orientation (the MapReduce
    * triangle algorithm of Suri & Vassilvitskii 2011). Treats the input
    * as undirected: self-loops dropped, edges canonicalized + distinct.
    *
    * The naive wedge join enumerates Σ deg(v)² pairs — a single hub
    * vertex of degree 10^6 contributes 10^12 wedges, the classic
    * power-law blow-up. Orienting every edge from its (degree, id)-
    * smaller endpoint to the larger caps every vertex's OUT-degree at
    * O(√|E|), so the wedge join enumerates only out-neighbor pairs of
    * the low vertex: Σ outdeg(v)² = O(|E|^{3/2}) total — the optimal
    * bound, hub-proof. Three shuffles (degree agg, wedge self-join,
    * closing-edge join), all equi-joins.
    *
    * Returns one row (n_edges, n_wedges, n_triangles) — n_wedges is
    * the candidate count, the work metric that tells you whether the
    * orientation is containing the skew.
    */
  def triangleCount(edges: DataFrame,
                    scope: CacheScope = CacheScope.global): DataFrame = {
    val e = scope.persist(canonical(edges))
    val deg = scope.persist(
      e.select(col("a").as("id")).union(e.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("d")))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = e.join(deg.select(col("id").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("d").as("db")), "b")
      .select(when(lowFirst, col("a")).otherwise(col("b")).as("src"),
        when(lowFirst, col("b")).otherwise(col("a")).as("dst"))
    // oriented edges + the destination's rank, reused by both sides of
    // the wedge self-join
    val oo = scope.persist(
      o.join(deg.select(col("id").as("dst"), col("d").as("dr")), "dst"))
    val wedges = oo.as("e1").join(oo.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.dr") < col("e2.dr") ||
            (col("e1.dr") === col("e2.dr") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.dst").as("v"), col("e2.dst").as("w2"))
    // o is distinct, so each wedge matches at most one closing edge —
    // an inner join counts triangles without double counting
    val tri = wedges.join(oo.select(col("src").as("v"), col("dst").as("w2")),
      Seq("v", "w2"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** HITS hubs-and-authorities (Kleinberg): auth_{t}(v) = Σ_{u→v}
    * hub_{t-1}(u), hub_t(u) = Σ_{u→v} auth_t(v), each vector
    * L1-normalized after its update. Complements PageRank on the same
    * graph view: PageRank ranks by random-walk mass, HITS separates
    * "points at good things" (hub) from "is pointed at" (authority) —
    * the directed-hierarchy shape (order→customer→nation→region)
    * makes the two rankings genuinely different.
    *
    * Determinism: every sum goes through the same decimal→×1e9→BIGINT
    * hop as [[pageRank]], and each normalized value is re-quantized to
    * the 1e-9 grid, so both the per-vertex sums and the scalar L1
    * totals are partition-order-free and replay bit-for-bit in any
    * engine. The L1 total is a 1-row aggregate broadcast into the
    * division — a scalar join, not a data shuffle.
    *
    * Plan shape: per iteration, two keyed aggregates (the two message
    * directions) + two 1-row broadcasts — the same one-shuffle-per-
    * message-pass discipline as [[pageRank]]; edges are checkpointed
    * once and reused.
    */
  def hits(edges: DataFrame, iterations: Int,
           scope: CacheScope = CacheScope.global): DataFrame = {
    // the two message directions join on different edge keys (src for
    // the auth pass, dst for the hub pass), so keep TWO checkpointed
    // copies, each spread on its join key; the hub pass sends along the
    // dst-spread copy reversed. Neither checkpoint records that
    // partitioning under AQE (see [[pageRank]]), so each
    // half-iteration's join plans an exchange or a broadcast besides
    // the message aggregate.
    // The dst-spread copy and vertices derive FROM the materialized
    // eBySrc (not a third checkpointed copy of the distinct edge set):
    // one fewer materialization up front, and the distinct still runs
    // once.
    val eBySrc = scope.checkpoint(edges.select(col("src"), col("dst"))
      .distinct().repartition(col("src")))
    val reversed = scope.checkpoint(eBySrc.repartition(col("dst")))
      .select(col("dst").as("src"), col("src").as("dst"))
    val vertices = scope.checkpoint(vertexIds(eBySrc))
    // IEEE division of two grid doubles, re-quantized to the grid
    def qdiv(n: Column, d: Column): Column =
      (round(n / d * 1000000000L).cast("long").cast("double") / 1.0e9)
    val zeroV = scope.checkpoint(vertices.select(col("id"), lit(0.0).as("v")))
    // one half-iteration: the message superstep, then L1 normalization.
    // The raw sums are referenced twice (normalize + L1 total), so they
    // are checkpointed — plans stay constant-size per iteration (the
    // connectedComponents discipline) instead of doubling
    def half(e: DataFrame, score: DataFrame): DataFrame = {
      val raw = scope.checkpoint(
        superstep(e, score, col("v"), qsum(_).as("v"), Some(zeroV)))
      raw.crossJoin(broadcast(raw.agg(qsum(col("v")).as("tot"))))
        .select(col("id"), qdiv(col("v"), col("tot")).as("v"))
    }
    var hub = vertices.select(col("id"), lit(1.0).as("v"))
    var auth = zeroV
    for (_ <- 1 to iterations) {
      auth = half(eBySrc, hub)
      hub = half(reversed, auth)
    }
    hub.select(col("id"), col("v").as("hub"))
      .join(auth.select(col("id"), col("v").as("auth")), Seq("id"), "full")
      .select(col("id"), coalesce(col("hub"), lit(0.0)).as("hub"),
        coalesce(col("auth"), lit(0.0)).as("auth"))
  }

  /** DETERMINISTIC random walks — the graph-embedding corpus
    * generator (DeepWalk/node2vec's sampling pass) with the
    * randomness replaced by the engine's deterministic hash, so the
    * walk corpus replays bit-for-bit on any cluster layout and in
    * the SQL oracle: at step i from node v the walk takes neighbor
    * index detHash(v·1000003 + i) mod deg(v) over the
    * dst-ascending-indexed adjacency. A node with no out-edges ends
    * the walk (nulls from there on — left joins, so partial walks
    * surface instead of vanishing). Emits one wide row per source:
    * (start, n1 … nSteps).
    *
    * Scale shape: the adjacency is indexed ONCE (one rank window
    * over the edge list); each step is one equi-join of the frontier
    * against it — `steps` shuffles of frontier size, never edge
    * size, and no per-walk state on the driver. The hash pick needs
    * `deg` on the matched row only, so the join stays an equi-join
    * on the node id with the index-pick as a residual predicate.
    */
  def deterministicWalks(edges: DataFrame, sources: DataFrame,
                         steps: Int,
                         scope: CacheScope = CacheScope.global): DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    val w = Window.partitionBy(col("src")).orderBy(col("dst").asc)
    val adj = scope.checkpoint(edges.select(col("src"), col("dst"))
      .withColumn("idx", row_number().over(w).cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src")))))
    var st = sources.select(col("id").as("start"), col("id").as("n0"))
    for (i <- 1 to steps) {
      val prev = if (i == 1) "n0" else s"n${i - 1}"
      val a = adj.select(col("src").as(s"__s$i"), col("dst").as(s"n$i"),
        col("idx").as(s"__i$i"), col("deg").as(s"__d$i"))
      st = st.join(a,
          st(prev) === a(s"__s$i") &&
            a(s"__i$i") === Sampling.detHash(st(prev) * 1000003L + i)
              % a(s"__d$i"),
          "left")
        .drop(s"__s$i", s"__i$i", s"__d$i")
    }
    st.drop("n0")
  }

  /** NON-BACKTRACKING deterministic walks — node2vec's core bias
    * (p → ∞: never return to the node you just left) with the same
    * hash-replayable determinism as [[deterministicWalks]]. At step
    * i ≥ 2 the previous node is EXCLUDED from the candidate set by
    * index surgery, not by rejection sampling: look up prev's index
    * p in cur's adjacency (one extra equi-join on (cur, prev)), draw
    * j = detHash(cur·1000003 + i) mod (deg − 1), and take index
    * j + 1{j ≥ p} — a bijection onto the remaining neighbors, so
    * the pick stays uniform over them and replays exactly. deg = 1
    * with prev as the only neighbor is a dead end (guarded before
    * the modulo; nulls from there on).
    *
    * Same scale shape as the unbiased walker: the indexed adjacency
    * builds once; each step is two frontier-sized equi-joins
    * (prev-index lookup + pick), zero driver state.
    */
  def deterministicWalksNoBacktrack(edges: DataFrame, sources: DataFrame,
                                    steps: Int,
                                    scope: CacheScope = CacheScope.global)
      : DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    val w = Window.partitionBy(col("src")).orderBy(col("dst").asc)
    val adj = scope.checkpoint(edges.select(col("src"), col("dst"))
      .withColumn("idx", row_number().over(w).cast("long") - 1L)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src")))))
    var st = sources.select(col("id").as("start"), col("id").as("n0"))
    for (i <- 1 to steps) {
      val cur = if (i == 1) "n0" else s"n${i - 1}"
      val hash = Sampling.detHash(st(cur) * 1000003L + i)
      if (i == 1) {
        val a = adj.select(col("src").as(s"__s$i"), col("dst").as(s"n$i"),
          col("idx").as(s"__i$i"), col("deg").as(s"__d$i"))
        st = st.join(a,
            st(cur) === a(s"__s$i") && a(s"__i$i") === hash % a(s"__d$i"),
            "left")
          .drop(s"__s$i", s"__i$i", s"__d$i")
      } else {
        val prev = s"n${i - 2}"
        val pe = adj.select(col("src").as(s"__ps$i"), col("dst").as(s"__pd$i"),
          col("idx").as(s"__pi$i"))
        st = st.join(pe,
          st(cur) === col(s"__ps$i") && st(prev) === col(s"__pd$i"), "left")
        val a = adj.select(col("src").as(s"__s$i"), col("dst").as(s"n$i"),
          col("idx").as(s"__i$i"), col("deg").as(s"__d$i"))
        val excl = when(col(s"__pi$i").isNotNull, 1L).otherwise(0L)
        val d2 = a(s"__d$i") - excl
        val j = hash % d2
        val pick = when(d2 > 0,
          j + when(col(s"__pi$i").isNotNull && j >= col(s"__pi$i"), 1L)
            .otherwise(0L))
        st = st.join(a, st(cur) === a(s"__s$i") && a(s"__i$i") === pick,
            "left")
          .drop(s"__ps$i", s"__pd$i", s"__pi$i", s"__s$i", s"__i$i",
            s"__d$i")
      }
    }
    st.drop("n0")
  }

  /** Newman MODULARITY of a vertex partition — the standard quality
    * score for a community assignment (label propagation, CC, an
    * external clustering): Q = Σ_c [ e_c/m − (deg_c/2m)² ] over the
    * UNDIRECTED view of `edges`, where m = |E|, e_c = intra-community
    * edge count and deg_c = total degree of community c. Emits one
    * row per community with the exact integer ingredients
    * (n_vertices, intra_edges, degree) plus the contribution as the
    * EXACT RATIONAL pair (q_num, q_den) in decimal(38,0):
    *   q_num = 4·m·e_c − deg_c²,   q_den = 4·m²
    * — the ts_trend_slope convention: no division ever happens, so
    * the score replays bit-exactly in any engine, and decimal (not
    * int64) keeps 4·m·e_c from wrapping at lake scale (it exceeds
    * 2⁶³ near m ≈ 1.5e9 undirected edges). Σ q_num / q_den is the
    * modularity; consumers divide at whatever precision they need.
    *
    * `assign` maps id → community; vertices missing from `assign`
    * would silently vanish from every term, so they are rejected
    * (inner-join count must cover both endpoints of every edge —
    * checked with one aggregate, failing fast like pageRankWeighted's
    * weight guard).
    *
    * Scale shape: two broadcast-friendly joins of the edge list
    * against the assignment (assignment is vertex-sized but
    * community-keyed aggregates combine map-side), one keyed
    * aggregate per term, and a 1-row total broadcast back — no
    * window, no all-pairs, no driver math beyond the guard count.
    */
  def modularity(edges: DataFrame, assign: DataFrame): DataFrame = {
    val a = assign.select(col("id"), col("community"))
    val e = edges.select(col("src"), col("dst"))
    val withC = e
      .join(a.select(col("id"), col("community").as("c_src")),
        e("src") === col("id"), "left").drop("id")
      .join(a.select(col("id"), col("community").as("c_dst")),
        e("dst") === col("id"), "left").drop("id")
    val unassigned = withC.filter(col("c_src").isNull || col("c_dst").isNull)
      .count()
    require(unassigned == 0,
      "modularity: every edge endpoint must appear in the assignment")
    val m = withC.agg(count(lit(1)).cast("decimal(38,0)").as("m"))
    // degree view: each edge contributes 1 to both endpoints' degree
    val degC = withC.select(col("c_src").as("community"))
      .unionByName(withC.select(col("c_dst").as("community")))
      .groupBy(col("community"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("degree"))
    val intraC = withC.filter(col("c_src") === col("c_dst"))
      .groupBy(col("c_src").as("community"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("intra_edges"))
    val nC = a.groupBy(col("community"))
      .agg(count(lit(1)).as("n_vertices"))
    nC.join(degC, Seq("community"), "left")
      .join(intraC, Seq("community"), "left")
      .na.fill(0L, Seq("n_vertices"))
      .withColumn("degree",
        coalesce(col("degree"), lit(0).cast("decimal(38,0)")))
      .withColumn("intra_edges",
        coalesce(col("intra_edges"), lit(0).cast("decimal(38,0)")))
      .crossJoin(broadcast(m))
      .withColumn("q_num",
        (lit(4).cast("decimal(38,0)") * col("m") * col("intra_edges") -
          col("degree") * col("degree")).cast("decimal(38,0)"))
      .withColumn("q_den",
        (lit(4).cast("decimal(38,0)") * col("m") * col("m"))
          .cast("decimal(38,0)"))
      .select(col("community"), col("n_vertices"),
        col("intra_edges").cast("long").as("intra_edges"),
        col("degree").cast("long").as("degree"),
        // rational pair ships as canonical integer strings: exact at
        // int128 range and hash-portable (wide DECIMAL is not)
        col("q_num").cast("string").as("q_num"),
        col("q_den").cast("string").as("q_den"))
  }

  /** Luby-style MAXIMAL INDEPENDENT SET with deterministic hash
    * priorities: each round, every still-active vertex whose
    * ([[Sampling.detHash2]], id) priority is a LOCAL MINIMUM among
    * its active neighbors joins the set; winners and their neighbors
    * leave the graph. The hash replaces Luby's coin flips — the
    * expected O(log n) round count carries over (the priority order
    * is hash-random w.r.t. the topology), and the run is bit-
    * replayable in any engine, matching the engine's no-unreplayable-
    * randomness rule (see deterministicWalks).
    *
    * `rounds` is FIXED (oracle-replayable — a data-dependent round
    * count cannot be mirrored in static SQL, same trade as
    * [[kCore]]); vertices still active after the last round are
    * emitted with `sel_round = -1`, so non-convergence is visible in
    * the result instead of silently truncating the set. Per round:
    * one neighbor-compare equi-join + two anti-joins, all on the
    * vertex key — no windows, no driver state beyond the loop
    * counter.
    */
  def maximalIndependentSet(edges: DataFrame, rounds: Int,
                            scope: CacheScope = CacheScope.global): DataFrame = {
    require(rounds >= 1)
    // convergence-loop floor scope (r17) — see [[kCore]]: per-round
    // winner/active/adj checkpoints run at Spark's 1m floor (32-core
    // A/B: g_mis 6.65 s at 256k vs 5.40 s at 1m).
    graft.GraftSession.withMinCoalesced(edges.sparkSession, "1m") {
    var adj = scope.checkpoint(adjacency(edges))
    var active = scope.checkpoint(
      adj.select(col("v")).distinct()
        .withColumn("h", Sampling.detHash2(col("v"))))
    var mis: DataFrame = null
    for (r <- 1 to rounds) {
      // a vertex LOSES if any active neighbor precedes it in (h, id)
      val losers = adj
        .join(active, Seq("v"))
        .join(active.select(col("v").as("n"), col("h").as("nh")), Seq("n"))
        .filter(col("nh") < col("h") ||
          (col("nh") === col("h") && col("n") < col("v")))
        .select(col("v")).distinct()
      // winners are CHECKPOINTED: the round's 3-way losers join is
      // referenced both by this round's removal step and by the final
      // mis union — unmaterialized, the terminal action re-ran every
      // round's neighbor-compare join a second time (r16: one losers
      // join per round instead of two; winner frames are tiny)
      val winners = scope.checkpoint(
        active.join(losers, Seq("v"), "left_anti")
          .select(col("v"), lit(r).as("sel_round")))
      mis = if (mis == null) winners else mis.unionByName(winners)
      // winners and their neighbors leave
      val removed = winners.select(col("v"))
        .union(adj.join(winners.select(col("v").as("n")), Seq("n"), "left_semi")
          .select(col("v")))
        .distinct()
      active = scope.checkpoint(
        active.join(removed, Seq("v"), "left_anti"))
      adj = scope.checkpoint(adj
        .join(active.select(col("v")), Seq("v"), "left_semi")
        .join(active.select(col("v").as("n")), Seq("n"), "left_semi"))
    }
    mis.unionByName(active.select(col("v"), lit(-1).as("sel_round")))
    }
  }
}
