package graft.operators

import java.math.{BigInteger, MathContext, RoundingMode, BigDecimal => JBigDecimal}

import scala.collection.mutable.{ArrayBuffer, LongMap}
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Graph view + graph analytics over DataFrames (SURVEY §4.2.3, §7 M7).
  *
  * The reference materializes a property graph of key-joined node
  * tables (§1.2/§1.3); here the graph IS the pair (vertices DF,
  * edges DF), and the algorithms take and return DataFrames. The
  * message-passing ones (PageRank, HITS, components, label
  * propagation, SSSP, k-core, MIS) and the fixpoint certificates of the
  * converged forms run every round through one kernel, [[superstep]],
  * the physical plan of Pregelix and GraphX's Pregel: per operator call
  * the graph is an RDD of (vertex id, adjacency) checkpointed once, and
  * the vertex state an RDD of (id, value), both under one
  * `HashPartitioner` of `spark.sql.shuffle.partitions`. The state ⋈
  * adjacency join is then partition-local and a round's only shuffle
  * is the message combine. The converged forms share one convergence
  * loop, [[converge]], which runs each window of rounds as one job.
  * DataFrames appear only at the operator boundary, with the column
  * names and types of the SQL the DuckDB oracle replays. An edge with
  * a null end names no vertex.
  *
  * Determinism: per-round sums are exact decimal sums quantized to the
  * 1e-9 grid ([[qsum]] in SQL, [[qterm]]/[[qvalue]] in the kernel, bit
  * for bit the same), so the ranks are bit-identical regardless of
  * partitioning — an engine running on 1000 executors produces the
  * same bytes as DuckDB single-threaded.
  */
object GraphOps {

  /** Decimal-exact sum on the 1e-9 grid. The decimal sum is
    * partition-order-free; the decimal→double hop goes through an exact
    * integer (×1e9, round, BIGINT) because a direct decimal→double cast
    * is correctly rounded in the JVM but 1-ulp off in engines that
    * convert via (int128→double)/10^scale — that ulp compounds across
    * iterations on hub vertices. The kernel computes the same value
    * with [[qterm]] and [[qvalue]].
    */
  private[operators] def qsum(c: Column): Column =
    round(sum(c.cast("decimal(27,15)")) * 1000000000L)
      .cast("long").cast("double") / 1.0e9

  /** One term of the kernel's [[qsum]]: the message's decimal(27,15)
    * value (Spark's double→decimal cast: the shortest decimal string,
    * rounded half-up to 15 places) as an unscaled integer. Terms add
    * exactly, in any order.
    */
  private[operators] def qterm(m: Double): BigInteger =
    new JBigDecimal(java.lang.Double.toString(m), MathContext.DECIMAL128)
      .setScale(15, RoundingMode.HALF_UP).unscaledValue

  /** The double of a sum of [[qterm]]s: ×1e9 (scale 15 → 6), rounded
    * half-up to an integer, /1e9 — [[qsum]]'s last three steps.
    */
  private[operators] def qvalue(sum: BigInteger): Double =
    new JBigDecimal(sum, 6).setScale(0, RoundingMode.HALF_UP).longValueExact / 1.0e9

  /** HITS's normalization n / d re-quantized to the 1e-9 grid, as
    * Spark evaluates `round(n / d * 1e9).cast(long).cast(double) / 1e9`:
    * double division, a half-up round of the shortest decimal string
    * (NaN and infinities pass), a saturating cast. Spark's division by
    * zero is NULL, which every HITS consumer reads as 0.0 (a skipped
    * message, a coalesced output), so it is 0.0 here.
    */
  private[operators] def qdiv(n: Double, d: Double): Double =
    if (d == 0.0) 0.0
    else {
      val x = n / d * 1000000000L
      val r = if (x.isNaN || x.isInfinite) x
        else JBigDecimal.valueOf(x).setScale(0, RoundingMode.HALF_UP).doubleValue
      r.toLong.toDouble / 1.0e9
    }

  /** The undirected simple edge set as (a, b) with a < b: self-loops
    * dropped, every vertex pair once.
    */
  private def canonical(edges: DataFrame): DataFrame =
    edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  // ---------------------------------------------------------------
  // The superstep kernel.
  // ---------------------------------------------------------------

  /** One operator call's graph: `adj`, every vertex once with its
    * adjacency payload, checkpointed; `part`, the partitioner of `adj`
    * and of every state and message RDD of the call; `idType`, the id
    * column type of the output frame (the input's, as the SQL form
    * keeps it).
    */
  private final case class Graph[A](adj: RDD[(Long, A)], part: Partitioner,
                                    idType: DataType, spark: SparkSession)

  /** The kernel [[Graph]] over `edges` (src, dst): `build` groups the
    * adjacency under the call's partitioner, and the result is
    * checkpointed once. `ids` (id) frames add to the id type.
    */
  private def graph[A](edges: DataFrame, scope: CacheScope, ids: DataFrame*)
                      (build: Partitioner => RDD[(Long, A)]): Graph[A] = {
    val spark = edges.sparkSession
    val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val idType = (Seq(edges.select(col("src").as("id")), edges.select(col("dst").as("id"))) ++
      ids.map(_.select(col("id")))).reduce(_ union _).schema.head.dataType
    Graph(held(build(part), scope), part, idType, spark)
  }

  /** The (src, dst) rows of `edges` as longs; a row with a null end
    * names no vertex and is dropped.
    */
  private def pairs(edges: DataFrame): RDD[(Long, Long)] =
    edges.select(col("src").cast("long"), col("dst").cast("long")).na.drop().rdd
      .map(r => (r.getLong(0), r.getLong(1)))

  /** The ids of an (id) frame as longs, nulls dropped. */
  private def idRdd(ids: DataFrame): RDD[Long] =
    ids.select(col("id").cast("long")).na.drop().rdd.map(_.getLong(0))

  /** Groups the payloads `out` (vertex, payload) by vertex under `part`;
    * every vertex of `also` appears too, with no payload.
    */
  private def adjacency[E: ClassTag](out: RDD[(Long, E)], also: RDD[Long],
                                     part: Partitioner): RDD[(Long, Array[E])] =
    combined(out.map { case (v, e) => (v, ArrayBuffer(e)) }
      .union(also.map((_, ArrayBuffer.empty[E]))), part)(_ ++= _)
      .mapValues(_.toArray)

  /** The neighbours of every vertex over both directions of the
    * (src, dst) rows `p`, one per row and direction: a duplicate row
    * names its neighbour twice, and a self-loop names the vertex itself
    * twice.
    */
  private def undirected(p: RDD[(Long, Long)], part: Partitioner): RDD[(Long, Array[Long])] =
    adjacency(p.flatMap { case (a, b) => Iterator((a, b), (b, a)) }, p.sparkContext.emptyRDD[Long], part)

  /** The undirected simple graph of `edges` (self-loops dropped, every
    * vertex pair once — [[canonical]]): distinct neighbours per vertex.
    */
  private def simpleGraph(edges: DataFrame, scope: CacheScope): Graph[Array[Long]] =
    graph(edges, scope)(undirected(pairs(edges).filter { case (a, b) => a != b }, _).mapValues(_.distinct))

  /** `f` over every (id, value) row of `rdd`, keys and partitioning
    * kept.
    */
  private def update[A, B: ClassTag](rdd: RDD[(Long, A)])(f: (Long, A) => B): RDD[(Long, B)] =
    rdd.mapPartitions(new Update(f), preservesPartitioning = true)

  /** A state over every vertex of `g`, co-partitioned with it. */
  private def init[A, S: ClassTag](g: Graph[A])(f: (Long, A) => S): RDD[(Long, S)] =
    update(g.adj)(f)

  /** `msgs` combined per receiving vertex under `part`: in a
    * partition-local hash map before the shuffle and again after it.
    * The shuffle itself carries no aggregator, so while `part` has at
    * most `spark.shuffle.sort.bypassMergeThreshold` (200) partitions
    * Spark writes it with its bypass-merge writer — no sort and no
    * sampling of the combine map's size, which (with `reduceByKey`)
    * took a large share of a round's task time.
    */
  private def combined[M: ClassTag](msgs: RDD[(Long, M)], part: Partitioner)
                                   (combine: (M, M) => M): RDD[(Long, M)] =
    new ShuffledRDD[Long, M, M](msgs.mapPartitions(new Combine(combine)), part)
      .mapPartitions(new Combine(combine), preservesPartitioning = true)

  /** `rdd`, checkpointed in `scope` as one array per partition. The
    * block store sizes a deserialized block by sampling it as it grows,
    * which on one record per vertex took a large share of a round's
    * task time; an array is one record. The returned RDD exists before
    * the checkpoint does, so it keeps `rdd`'s partition objects: `rdd`
    * must end in a shuffle or a partition-local join of shuffled and
    * held RDDs, not in a chain of earlier rounds (see [[converge]]).
    */
  private def held[T: ClassTag](rdd: RDD[T], scope: CacheScope): RDD[T] =
    scope.checkpoint(arrays(rdd)).mapPartitions(new Unpack[T], preservesPartitioning = true)

  /** `rdd.glom()`, except that `glom`'s closure captures `rdd` itself,
    * so a checkpointed glom still serializes its whole cut lineage into
    * every task that reads it.
    */
  private def arrays[T: ClassTag](rdd: RDD[T]): RDD[Array[T]] =
    rdd.mapPartitions(new Pack[T], preservesPartitioning = true)

  /** One superstep: a partition-local hash join of the graph with the
    * co-partitioned `state` (a vertex without a state row sends
    * nothing), `send`'s messages, and their [[combined]] value per
    * receiving vertex — the step's only shuffle. Output: (id, combined
    * message), under the graph's partitioner.
    */
  private def superstep[A, S: ClassTag, M: ClassTag](g: Graph[A], state: RDD[(Long, S)])
      (send: (Long, A, S) => Iterator[(Long, M)])(combine: (M, M) => M): RDD[(Long, M)] =
    combined(g.adj.zipPartitions(state)(new Send(send)), g.part)(combine)

  /** Partition-local left join of two co-partitioned RDDs: `f` maps
    * every row of `left` with its `right` value, if any.
    */
  private def zipLocal[S: ClassTag, T: ClassTag, U: ClassTag](left: RDD[(Long, S)], right: RDD[(Long, T)])
      (f: (Long, S, Option[T]) => U): RDD[(Long, U)] =
    left.zipPartitions(right, preservesPartitioning = true)(new Join(f))

  /** The operator's output frame over the kernel's `rows`, columns
    * `names`; the vertex-id columns (id, v, comp, lbl) take the graph's
    * id type.
    */
  private def frame[T <: Product : TypeTag](g: Graph[_], rows: RDD[T], names: String*): DataFrame =
    g.spark.createDataFrame(rows).toDF(names: _*).select(names.map { n =>
      if (Set("id", "v", "comp", "lbl")(n)) col(n).cast(g.idType).as(n) else col(n)
    }: _*)

  /** The convergence loop of the converged forms. From `start`, it runs
    * windows of up to `window` steps until a window ends with no
    * vertex signalled, or until `maxIterations` steps have run (the
    * runaway bound). `round(state, steps)` chains one window of `steps`
    * steps lazily and returns the new state with each vertex's signal.
    * The window is checkpointed and its signal counted by the one
    * action that materializes it, so each window is one job.
    */
  private def converge[S: ClassTag](start: RDD[(Long, S)], window: Int, maxIterations: Int,
                                    scope: CacheScope)
                                   (round: (RDD[(Long, S)], Int) => RDD[(Long, (S, Boolean))])
      : RDD[(Long, S)] = {
    var (state, signalled, iter) = (start, 1L, 0)
    while (signalled > 0L && iter < maxIterations) {
      val steps = math.min(window, maxIterations - iter)
      // [[held]]'s array form, counted before the next state is derived:
      // derived before the checkpoint, the state would keep the
      // window's partition chain and every later task would carry all
      // earlier windows
      val marked = scope.checkpoint(arrays(round(state, steps)))
      signalled = marked.sparkContext.runJob(marked, new Signalled[S]).sum
      state = update(marked.mapPartitions(new Unpack[(Long, (S, Boolean))],
        preservesPartitioning = true))((_, s) => s._1)
      iter += steps
    }
    state
  }

  // The kernel hands Spark named function classes, not lambdas: for
  // every lambda it is given, Spark's closure cleaner parses the class
  // that defines it (to reject `return`s), and on this object that
  // parse took most of the driver's time per round.

  /** [[combined]]'s partition-local combine. */
  private final class Combine[M](f: (M, M) => M)
      extends (Iterator[(Long, M)] => Iterator[(Long, M)]) with Serializable {
    def apply(it: Iterator[(Long, M)]): Iterator[(Long, M)] = {
      val acc = LongMap.empty[M]
      it.foreach { case (k, m) => acc.update(k, acc.get(k).fold(m)(f(_, m))) }
      acc.iterator
    }
  }

  /** [[superstep]]'s hash join and send. */
  private final class Send[A, S, M](f: (Long, A, S) => Iterator[(Long, M)])
      extends ((Iterator[(Long, A)], Iterator[(Long, S)]) => Iterator[(Long, M)]) with Serializable {
    def apply(vs: Iterator[(Long, A)], ss: Iterator[(Long, S)]): Iterator[(Long, M)] = {
      val st = LongMap.from(ss)
      vs.flatMap { case (id, a) => st.get(id).fold(Iterator.empty[(Long, M)])(f(id, a, _)) }
    }
  }

  /** [[zipLocal]]'s hash join. */
  private final class Join[S, T, U](f: (Long, S, Option[T]) => U)
      extends ((Iterator[(Long, S)], Iterator[(Long, T)]) => Iterator[(Long, U)]) with Serializable {
    def apply(ls: Iterator[(Long, S)], rs: Iterator[(Long, T)]): Iterator[(Long, U)] = {
      val r = LongMap.from(rs)
      ls.map { case (id, s) => (id, f(id, s, r.get(id))) }
    }
  }

  /** [[update]]'s map. */
  private final class Update[A, B](f: (Long, A) => B)
      extends (Iterator[(Long, A)] => Iterator[(Long, B)]) with Serializable {
    def apply(it: Iterator[(Long, A)]): Iterator[(Long, B)] = it.map { case (id, a) => (id, f(id, a)) }
  }

  /** One partition as one array. */
  private final class Pack[T: ClassTag] extends (Iterator[T] => Iterator[Array[T]]) with Serializable {
    def apply(it: Iterator[T]): Iterator[Array[T]] = Iterator.single(it.toArray)
  }

  /** [[Pack]]'s inverse. */
  private final class Unpack[T] extends (Iterator[Array[T]] => Iterator[T]) with Serializable {
    def apply(it: Iterator[Array[T]]): Iterator[T] = it.flatMap(_.iterator)
  }

  /** The exact [[qterm]] sum of one partition's values. */
  private final class QTotal extends (Iterator[(Long, Double)] => BigInteger) with Serializable {
    def apply(it: Iterator[(Long, Double)]): BigInteger =
      it.foldLeft(BigInteger.ZERO)((acc, v) => acc.add(qterm(v._2)))
  }

  /** [[converge]]'s count of signalled vertices in one packed partition. */
  private final class Signalled[S] extends (Iterator[Array[(Long, (S, Boolean))]] => Long)
      with Serializable {
    def apply(it: Iterator[Array[(Long, (S, Boolean))]]): Long = it.map(_.count(_._2._2).toLong).sum
  }

  // ---------------------------------------------------------------

  /** PageRank's graph: every vertex with its out-edges (dst, frac), frac
    * = w / Σ_out w over the integer weights `w` (column w of `edges`),
    * or 1 / outdeg at unit weight — one IEEE division per edge that
    * every engine computes identically. Duplicate edges stay
    * duplicates.
    */
  private def rankGraph(edges: DataFrame, scope: CacheScope,
                        weighted: Boolean = false): Graph[Array[(Long, Double)]] =
    graph(edges, scope) { part =>
      val e = if (weighted)
        edges.select(col("src").cast("long"), col("dst").cast("long"), col("w").cast("long"))
          .na.drop().rdd.map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      else pairs(edges).mapValues((_, 1L))
      adjacency(e, e.map(_._2._1), part).mapValues { out =>
        if (weighted) {
          val total = out.map(_._2).sum.toDouble
          out.map { case (dst, w) => (dst, w.toDouble / total) }
        } else out.map { case (dst, _) => (dst, 1.0 / out.length) }
      }
    }

  /** The qsum of `rank`-weighted messages along [[rankGraph]], with one
    * zero message per vertex of `ranks` (so a vertex without inflow
    * still gets a row): (id, exact sum).
    */
  private def inflow(g: Graph[Array[(Long, Double)]], ranks: RDD[(Long, Double)])
      : RDD[(Long, BigInteger)] =
    superstep(g, ranks) { (id, out, rank) =>
      Iterator.single((id, BigInteger.ZERO)) ++ out.iterator.map { case (dst, f) => (dst, qterm(rank * f)) }
    }(_ add _)

  /** One PageRank step over [[rankGraph]]: rank(v) = reset + damp ·
    * qsum_{u→v} rank(u)·frac(u, v).
    */
  private def rankStep(g: Graph[Array[(Long, Double)]], ranks: RDD[(Long, Double)],
                       reset: Double, damp: Double): RDD[(Long, Double)] =
    update(inflow(g, ranks))((_, q) => reset + damp * qvalue(q))

  /** Connected components' graph: every vertex with its distinct
    * undirected neighbours.
    */
  private def ccGraph(edges: DataFrame, scope: CacheScope): Graph[Array[Long]] =
    graph(edges, scope)(undirected(pairs(edges), _).mapValues(_.distinct))

  /** One min-label step: comp(v) = min over v's neighbours ∪ v. */
  private def ccStep(g: Graph[Array[Long]], comp: RDD[(Long, Long)]): RDD[(Long, Long)] =
    superstep(g, comp) { (id, nbrs, c) =>
      Iterator.single((id, c)) ++ nbrs.iterator.map((_, c))
    }((a, b) => math.min(a, b))

  /** Deterministic PageRank: rank_{t+1}(v) = reset + damp * Σ_{u→v}
    * rank_t(u) / outdeg(u), fixed iteration count, dangling mass
    * dropped. Input: edges (src: long, dst: long).
    */
  def pageRank(edges: DataFrame, iterations: Int,
               reset: Double = 0.15, damp: Double = 0.85,
               scope: CacheScope = CacheScope.global): DataFrame = {
    // The iterations chain lazily: each is one shuffle (the message
    // combine) over the checkpointed graph, and the loop runs as one
    // job of pipelined shuffle stages at the caller's action.
    val g = rankGraph(edges, scope)
    frame(g, (1 to iterations).foldLeft(init(g)((_, _) => 1.0)) {
      (ranks, _) => rankStep(g, ranks, reset, damp)
    }, "id", "rank")
  }

  /** Edge-weighted PageRank: rank_{t+1}(v) = reset + damp ·
    * Σ_{u→v} rank_t(u) · w(u,v) / Σ_out w(u) — the weight-proportional
    * generalization of [[pageRank]] (which this matches exactly at
    * w ≡ 1). Input: edges (src, dst, w: integer weights, so the
    * normalized fraction w / Σw is one deterministic double both
    * engines compute identically). Same iteration discipline as
    * [[pageRank]]: a checkpointed graph, one zero message per vertex
    * instead of a per-iteration vertex join, decimal-quantized sums.
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
    val g = rankGraph(e, scope, weighted = true)
    frame(g, (1 to iterations).foldLeft(init(g)((_, _) => 1.0)) {
      (ranks, _) => rankStep(g, ranks, reset, damp)
    }, "id", "rank")
  }

  /** Connected components by iterative min-label propagation over the
    * undirected edge set: comp_{t+1}(v) = min(comp_t(v),
    * min_{(u,v)∈E} comp_t(u)). Converges in diameter iterations;
    * deterministic (min is order-free).
    */
  def connectedComponents(edges: DataFrame, iterations: Int,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    // every vertex sends its label to itself as well as to its
    // neighbours, so the step's combine is the whole recurrence: one
    // shuffle per iteration, chained lazily into one job
    val g = ccGraph(edges, scope)
    frame(g, (1 to iterations).foldLeft(init(g)((id, _) => id)) {
      (comp, _) => ccStep(g, comp)
    }, "id", "comp")
  }

  /** Synchronous label propagation (community detection), `iterations`
    * rounds: every vertex starts as its own label; each round it
    * adopts the MOST FREQUENT label among its neighbors (undirected),
    * ties broken toward the smallest label so the result is
    * deterministic. Differs from [[connectedComponents]] exactly in
    * the vote: mode-of-neighbors finds dense communities inside a
    * component, min-of-neighbors finds the component itself.
    *
    * The vote counts every (src, dst) row in both directions, as the
    * oracle's `UNION ALL` does: a duplicate edge votes twice, and a
    * self-loop votes for the vertex's own label twice.
    *
    * Plan shape: one [[superstep]] per round over the checkpointed
    * undirected adjacency. Each vertex sends its label to every
    * neighbour as a one-entry (label → count) map, the combine adds the
    * maps (map-side, so a hub's votes arrive pre-counted), and the
    * argmax is taken partition-locally from the combined map: one
    * shuffle per round. Every vertex of the graph has a neighbour, so
    * every vertex receives a vote.
    */
  def labelPropagation(edges: DataFrame, iterations: Int,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val g = graph(edges, scope)(undirected(pairs(edges), _))
    frame(g, (1 to iterations).foldLeft(init(g)((id, _) => id)) { (lbl, _) =>
      update(superstep(g, lbl) { (_, nbrs, l) => nbrs.iterator.map((_, Map(l -> 1L))) } { (a, b) =>
        val (big, small) = if (a.size >= b.size) (a, b) else (b, a)
        small.foldLeft(big) { case (m, (l, c)) => m.updated(l, m.getOrElse(l, 0L) + c) }
      })((_, votes) => votes.minBy { case (l, c) => (-c, l) }._1)
    }, "id", "lbl")
  }

  /** Multi-source BFS / unit-weight shortest paths along edge
    * direction: dist(v) = hops from the nearest source, null if
    * unreachable within `iterations`: [[weightedSssp]] at w ≡ 1, one
    * superstep per iteration. `iterations` must be >= the radius of
    * interest; unreached vertices surface as null, not a sentinel, so
    * truncation is visible to the caller.
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
    * `iterations` rounds. Per round ONE shuffle: the reached vertices'
    * relaxations along their out-edges, plus each reached vertex's own
    * distance (the zero-weight self-loop), min-combined per receiver.
    * Distances are exact BIGINTs, so a depth-k run is the true minimum
    * over paths of ≤ k edges and any engine replays it bit-for-bit
    * ([[shortestPaths]] is the w ≡ 1 case). Unreachable-within-k
    * vertices emit NULL.
    */
  def weightedSssp(edges: DataFrame, sources: DataFrame, iterations: Int,
                   scope: CacheScope = CacheScope.global): DataFrame = {
    // Sources join the vertex set so an isolated source (no incident
    // edges) still surfaces with dist=0 rather than silently vanishing
    // from the output. Every vertex carries its out-edges and whether
    // it is a source, so the seeds come from the checkpointed graph and
    // the loop's only shuffles are its rounds. An edge with a NULL
    // weight relaxes nothing.
    val srcIds = idRdd(sources)
    val g = graph(edges, scope, sources) { part =>
      val rows = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long")).filter(col("src").isNotNull && col("dst").isNotNull).rdd
      val out = rows.filter(!_.isNullAt(2)).map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      zipLocal(adjacency(out, rows.flatMap(r => Iterator(r.getLong(0), r.getLong(1))).union(srcIds), part),
        combined(srcIds.map((_, ())), part)((a, _) => a))((_, o, src) => (o, src.isDefined))
    }
    val dist = (1 to iterations).foldLeft(update(g.adj.filter(_._2._2))((_, _) => 0L)) { (d, _) =>
      superstep(g, d) { (id, a, x) =>
        Iterator.single((id, x)) ++ a._1.iterator.map { case (dst, w) => (dst, x + w) }
      }((a, b) => math.min(a, b))
    }
    frame(g, zipLocal(g.adj, dist)((_, _, d) => d), "id", "dist")
  }

  /** Convergence-safe connected components: same min-label propagation
    * as [[connectedComponents]], iterated until NO label changed in a
    * window (counted by the window's one job, see [[converge]]) or
    * `maxIterations` as a runaway bound. A fixed-depth run silently
    * splits any component whose diameter exceeds the depth —
    * at corpus scale a dup chain longer than the depth under-dedups —
    * so this is the production path; the fixed-depth form stays for
    * oracle replay (a data-dependent iteration count cannot be
    * mirrored in static SQL).
    */
  def connectedComponentsConverged(edges: DataFrame, maxIterations: Int = 50,
                                   scope: CacheScope = CacheScope.global): DataFrame = {
    val g = ccGraph(edges, scope)
    // Windows of 3 steps (the pageRankConverged cadence): labels only
    // DECREASE, so "no vertex changed across the whole window" is
    // EXACTLY "no step in the window changed anything" — the check
    // against the window-start state is exact, and "any label
    // strictly smaller" is "changed".
    frame(g, converge(init(g)((id, _) => id), window = 3, maxIterations, scope) { (comp, steps) =>
      zipLocal((1 to steps).foldLeft(comp)((cur, _) => ccStep(g, cur)), comp) {
        (_, c, prev) => (c, prev.exists(c < _))
      }
    }, "id", "comp")
  }

  /** Personalized PageRank: random walks restart at the SOURCE set
    * instead of uniformly — rank_{t+1}(v) = reset·1{v ∈ sources} +
    * damp·Σ_{u→v} rank_t(u)/outdeg(u), rank_0 = 1{v ∈ sources}. The
    * graph-retrieval primitive ("importance relative to THESE nodes"
    * — recommendation seeds, query-time personalization), with the
    * same exact 1e-9-quantized decimal sums as [[pageRank]] so the
    * oracle replays the iteration chain bit-for-bit.
    *
    * Plan shape: the per-vertex reset vector is checkpointed once,
    * co-partitioned with the graph, and each step adds it to the
    * combined inflow partition-locally — one shuffle per iteration.
    * `sources` is an (id) frame; ids absent from the graph contribute
    * nothing.
    */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
                           iterations: Int,
                           reset: Double = 0.15, damp: Double = 0.85,
                           scope: CacheScope = CacheScope.global): DataFrame = {
    val g = rankGraph(edges, scope)
    val resetVec = held(zipLocal(g.adj, combined(idRdd(sources).map((_, ())), g.part)((a, _) => a)) {
      (_, _, src) => if (src.isDefined) reset else 0.0
    }, scope)
    val start = update(resetVec)((_, w) => if (w > 0.0) 1.0 else 0.0)
    frame(g, (1 to iterations).foldLeft(start) { (ranks, _) =>
      zipLocal(inflow(g, ranks), resetVec)((_, q, w) => w.getOrElse(0.0) + damp * qvalue(q))
    }, "id", "rank")
  }

  /** Convergence-safe PageRank: same recurrence (and the same exact
    * 1e-9-quantized decimal sums) as [[pageRank]], iterated until no
    * vertex's rank moved more than `tol` in a round — counted by the
    * window's one job like [[connectedComponentsConverged]] — or
    * `maxIterations` as the runaway bound. A fixed iteration count
    * under-converges hub-heavy graphs whose mixing time exceeds the
    * depth; this is the production path, while the fixed-depth form
    * stays for oracle replay (a data-dependent iteration count cannot
    * be mirrored in static SQL).
    *
    * Termination is guaranteed even for tiny `tol`: the damped
    * recurrence contracts deltas by `damp` per round and ranks live on
    * the 1e-9 quantization grid, so the sequence reaches an exact
    * fixpoint.
    */
  def pageRankConverged(edges: DataFrame, tol: Double = 1e-7,
                        maxIterations: Int = 50,
                        reset: Double = 0.15, damp: Double = 0.85,
                        scope: CacheScope = CacheScope.global): DataFrame = {
    require(tol > 0.0 && maxIterations >= 1)
    val g = rankGraph(edges, scope)
    // Windows of 3 recurrence steps run as ONE job. A tol-fixpoint
    // stays a fixpoint under extra iterations (the recurrence is a
    // contraction), so overshooting by ≤2 steps changes nothing the
    // certificate or oracle can see.
    frame(g, converge(init(g)((_, _) => 1.0), window = 3, maxIterations, scope) {
      (ranks, steps) =>
        // the stopping criterion stays the SINGLE-step delta (what the
        // certificate's residual bound assumes): compare the window's
        // last step against the state just before it
        val beforeLast = (1 until steps).foldLeft(ranks) {
          (cur, _) => rankStep(g, cur, reset, damp)
        }
        zipLocal(rankStep(g, beforeLast, reset, damp), beforeLast) {
          (_, rank, prev) => (rank, prev.exists(p => math.abs(rank - p) > tol))
        }
    }, "id", "rank")
  }

  // ---------------------------------------------------------------
  // Fixpoint certificates: the converged forms iterate a
  // data-dependent number of rounds, which no static SQL can unroll —
  // so their CORRECTNESS entries check the FIXPOINT PROPERTY instead
  // of the trajectory. Each certificate recomputes one application of
  // the recurrence from the OUTPUT itself, as one [[superstep]] over the
  // operator's own kernel graph, and emits rows whose correct values
  // are knowable to the oracle without replaying: the vertex list
  // (graph-derived) and all-true / all-zero violation columns. An
  // under-converged run cannot reproduce them — the residual check
  // fails on exactly the vertices whose values were still moving. The
  // given state is read as (id, value) rows; a row with a null field is
  // skipped, as no converged form emits one.
  // ---------------------------------------------------------------

  /** Per-vertex PageRank fixpoint certificate over `ranks` (the (id,
    * rank) output of [[pageRankConverged]]): recompute expected(v) =
    * reset + damp·Σ rank(u)/outdeg(u) with the engine's own step and
    * flag |rank − expected| within the contraction bound. At a
    * tol-fixpoint the residual of vertex v is at most damp·(in_mass(v)·
    * tol + q) where in_mass(v) = Σ_{u→v} 1/outdeg(u) (each in-neighbor
    * moved ≤ tol in the final round) and q = 1e-9 is one quantization
    * step — the per-vertex bound used here, plus 1e-8 slack. The step's
    * one shuffle carries both sums. Emits (id, converged): every ranked
    * graph vertex once per `ranks` row, all true iff the claimed
    * fixpoint holds.
    */
  def pageRankCertificate(edges: DataFrame, ranks: DataFrame, tol: Double,
                          reset: Double = 0.15, damp: Double = 0.85,
                          scope: CacheScope = CacheScope.global): DataFrame = {
    val g = rankGraph(edges, scope)
    val given = ranks.select(col("id").cast("long"), col("rank")).na.drop().rdd
      .map(r => (r.getLong(0), r.getDouble(1))).partitionBy(g.part)
    // every graph vertex sends: one zero to itself, so it gets a sum,
    // and one message per out-edge, a zero rank term if it is unranked,
    // so in_mass counts every in-edge
    val sums = superstep(g, zipLocal(g.adj, given)((_, _, rank) => rank)) { (id, out, rank) =>
      Iterator.single((id, (BigInteger.ZERO, 0.0))) ++ out.iterator.map { case (dst, f) =>
        (dst, (rank.fold(BigInteger.ZERO)(r => qterm(r * f)), f))
      }
    } { case ((q1, m1), (q2, m2)) => (q1 add q2, m1 + m2) }
    frame(g.copy(idType = ranks.schema("id").dataType), zipLocal(given, sums) { (_, rank, sum) =>
      sum.map { case (q, inMass) =>
        math.abs(rank - (reset + damp * qvalue(q))) <= damp * (inMass * tol + 1e-9) + 1e-8
      }
    }.collect { case (id, Some(ok)) => (id, ok) }, "id", "converged")
  }

  /** Per-vertex connected-components fixpoint certificate over `comp`
    * (the (id, comp) output of [[connectedComponentsConverged]]). A
    * min-propagation fixpoint initialized from self-labels satisfies,
    * for every vertex: (a) comp(v) ≤ v (labels only decrease from the
    * id init); (b) no undirected neighbor carries a smaller label —
    * with symmetry that makes comp constant along every edge, exactly
    * the property an under-iterated run violates; (c) the label is a
    * self-labeled root: comp(comp(v)) = comp(v). (b) is one neighbour-
    * min superstep, (c) a join of the label rows, keyed by label, with
    * the roots on the graph's partitioner. Emits (id, converged): one
    * row per `comp` row, all true iff the fixpoint holds.
    */
  def connectedComponentsCertificate(edges: DataFrame, comp: DataFrame,
                                     scope: CacheScope = CacheScope.global): DataFrame = {
    val g = ccGraph(edges, scope)
    val given = comp.select(col("id").cast("long"), col("comp").cast("long")).na.drop().rdd
      .map(r => (r.getLong(0), r.getLong(1))).partitionBy(g.part)
    // neighbours only: a vertex sees its own label through a self-loop
    val nbrMin = superstep(g, given) { (_, nbrs, c) => nbrs.iterator.map((_, c)) }(
      (a, b) => math.min(a, b))
    val byLabel = zipLocal(given, nbrMin)((id, c, m) => (c, (id, c <= id && m.forall(_ >= c)))).values
    val roots = given.filter { case (id, c) => id == c }
    frame(g.copy(idType = comp.schema("id").dataType), byLabel.leftOuterJoin(roots, g.part).values.map {
      case ((id, ok), root) => (id, ok && root.isDefined)
    }, "id", "converged")
  }

  /** k-core fixpoint certificate over `core` (the (id, degree) output
    * of [[kCoreConverged]]): over the simple undirected graph, every
    * survivor sends 1 to each neighbour, so a survivor receives its
    * degree in the subgraph induced on the survivors. At the k-core
    * fixpoint (i) every induced degree is ≥ k — equivalently, one more
    * peel removes nothing — and (ii) the reported degrees equal the
    * induced ones (the final edge set IS the induced subgraph on
    * survivors, since peeling only drops edges at removed endpoints).
    * Emits ONE row (n_vertices, n_below_k, n_deg_mismatch): the
    * graph's vertex count (oracle-computable) and two violation counts
    * over the `core` rows that are 0 iff the fixpoint holds.
    */
  def kCoreCertificate(edges: DataFrame, core: DataFrame, k: Int,
                       scope: CacheScope = CacheScope.global): DataFrame = {
    val g = simpleGraph(edges, scope)
    val surv = core.select(col("id").cast("long"), col("degree").cast("long")).na.drop().rdd
      .map(r => (r.getLong(0), r.getLong(1))).partitionBy(g.part)
    val induced = superstep(g, surv)((_, nbrs, _) => nbrs.iterator.map((_, 1L)))(_ + _)
    // (is a graph vertex, below k, degree mismatch) per vertex and per
    // survivor row
    val checks = update(g.adj)((_, _) => (true, false, false)).union(zipLocal(surv, induced) {
      (_, deg, d) => (false, d.getOrElse(0L) < k, d.getOrElse(0L) != deg)
    })
    frame(g, checks.values, "vertex", "below", "mismatch").agg(
      count(when(col("vertex"), 1)).as("n_vertices"),
      count(when(col("below"), 1)).as("n_below_k"),
      count(when(col("mismatch"), 1)).as("n_deg_mismatch"))
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
    import org.apache.spark.graphx.{Edge, Graph => GraphX}
    val spark = edges.sparkSession
    val edgeRdd = edges.select(col("src"), col("dst")).rdd
      .map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val graph = GraphX.fromEdges(edgeRdd, defaultValue = 1.0)
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
    * nothing marks THE k-core). Runs [[kCoreConverged]]'s frontier
    * loop with `iterations` as the bound: after the same number of
    * rounds the two peels agree, and a loop that stops early on an
    * empty frontier has nothing left to peel.
    *
    * Input treated as undirected; self-loops dropped, edges
    * canonicalized + distinct. Returns surviving (id, degree).
    */
  def kCore(edges: DataFrame, k: Int, iterations: Int,
            scope: CacheScope = CacheScope.global): DataFrame = {
    require(k >= 1 && iterations >= 1)
    kCoreConverged(edges, k, iterations, scope)
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
    * (deg, alive) per vertex of the simple undirected graph, and in
    * each round only the vertices peeled that round (alive, deg < k)
    * send −1 to their neighbours — one superstep per round, over the
    * frontier's edges only. The rounds run through [[converge]] one
    * step per window: each round's job also counts the next round's
    * frontier, so an empty frontier ends the loop.
    *
    * Returns surviving (id, degree); on a runaway-bound exit the
    * non-convergence is visible as degree < k rows in the output.
    */
  def kCoreConverged(edges: DataFrame, k: Int, maxIterations: Int = 50,
                     scope: CacheScope = CacheScope.global): DataFrame = {
    require(k >= 1 && maxIterations >= 1)
    val g = simpleGraph(edges, scope)
    val core = converge(init(g)((_, nbrs) => (nbrs.length.toLong, true)), window = 1,
        maxIterations, scope) { (state, _) =>
      val dec = superstep(g, state) { (_, nbrs, s) =>
        if (s._2 && s._1 < k) nbrs.iterator.map((_, 1L)) else Iterator.empty
      }(_ + _)
      // both fields read the round's input deg: a vertex is peeled on
      // the degree it entered the round with
      zipLocal(state, dec) { case (_, (deg, alive), d) =>
        val next = (deg - d.getOrElse(0L), alive && deg >= k)
        (next, next._2 && next._1 < k)
      }
    }
    // a survivor whose neighbours all peeled in the last round has
    // no edge left and is not listed (only reachable on a bounded
    // exit, as k >= 1)
    frame(g, core.collect { case (id, (deg, true)) if deg > 0 => (id, deg) }, "id", "degree")
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
    * hop as [[pageRank]] ([[qterm]]/[[qvalue]]), and each normalized
    * value is re-quantized to the 1e-9 grid ([[qdiv]]), so both the
    * per-vertex sums and the scalar L1 totals are partition-order-free
    * and replay bit-for-bit in any engine.
    *
    * Plan shape: each half-iteration is one superstep over its own
    * checkpointed graph (out-edges for the auth pass, in-edges for the
    * hub pass, both on the one partitioner), and its L1 total is one
    * job; the normalization is partition-local.
    */
  def hits(edges: DataFrame, iterations: Int,
           scope: CacheScope = CacheScope.global): DataFrame = {
    // every vertex of the distinct edge set is a key of both graphs
    val fwd = graph(edges, scope) { part =>
      val p = pairs(edges)
      adjacency(p, p.map(_._2), part).mapValues(_.distinct)
    }
    val rev = graph(edges, scope) { part =>
      val p = pairs(edges).map(_.swap)
      adjacency(p, p.map(_._2), part).mapValues(_.distinct)
    }
    // one half-iteration: the message superstep (one zero message per
    // vertex), then L1 normalization by the qsum of all raw sums
    def half(g: Graph[Array[Long]], score: RDD[(Long, Double)]): RDD[(Long, Double)] = {
      val raw = update(superstep(g, score) { (id, out, v) =>
        Iterator.single((id, BigInteger.ZERO)) ++ out.iterator.map((_, qterm(v)))
      }(_ add _))((_, q) => qvalue(q))
      val tot = qvalue(raw.sparkContext.runJob(raw, new QTotal).foldLeft(BigInteger.ZERO)(_ add _))
      update(raw)((_, v) => qdiv(v, tot))
    }
    var hub = init(fwd)((_, _) => 1.0)
    var auth = init(fwd)((_, _) => 0.0)
    for (_ <- 1 to iterations) {
      auth = half(fwd, hub)
      hub = half(rev, auth)
    }
    frame(fwd, zipLocal(hub, auth)((_, h, a) => (h, a.getOrElse(0.0)))
      .map { case (id, (h, a)) => (id, h, a) }, "id", "hub", "auth")
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
    * the result instead of silently truncating the set. A round is two
    * supersteps: the min of the active neighbours' (h, id), then the
    * winners' removal of their neighbours. Rounds run through
    * [[converge]], so the loop ends early, with the same output, once
    * no vertex is active.
    */
  def maximalIndependentSet(edges: DataFrame, rounds: Int,
                            scope: CacheScope = CacheScope.global): DataFrame = {
    require(rounds >= 1)
    val g = simpleGraph(edges, scope)
    // status: Active, Removed, or the round r >= 1 the vertex won in
    val (active, removed) = (0, -2)
    // Sampling.detHash2 on a long id
    def h(id: Long): Long = (1 to 2).foldLeft(id)((x, _) => (x % 94906249L) * 1103515245L % 2147483647L)
    def precedes(a: (Long, Long), b: (Long, Long)): Boolean =
      a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
    var r = 0
    val end = converge(init(g)((id, _) => (h(id), active)), window = 1, rounds, scope) { (state, _) =>
      r += 1
      val round = r
      // a vertex LOSES if any active neighbour precedes it in (h, id)
      val minNbr = superstep(g, state) { (id, nbrs, s) =>
        if (s._2 == active) nbrs.iterator.map((_, (s._1, id))) else Iterator.empty
      }((a, b) => if (precedes(b, a)) b else a)
      val won = zipLocal(state, minNbr) { (id, s, m) =>
        if (s._2 == active && !m.exists(precedes(_, (s._1, id)))) (s._1, round) else s
      }
      // winners and their neighbours leave
      val hit = superstep(g, won) { (_, nbrs, s) =>
        if (s._2 == round) nbrs.iterator.map((_, true)) else Iterator.empty
      }((a, _) => a)
      zipLocal(won, hit) { (_, s, x) =>
        val next = if (s._2 == active && x.isDefined) (s._1, removed) else s
        (next, next._2 == active)
      }
    }
    frame(g, end.collect {
      case (v, (_, st)) if st != removed => (v, if (st == active) -1 else st)
    }, "v", "sel_round")
  }
}
