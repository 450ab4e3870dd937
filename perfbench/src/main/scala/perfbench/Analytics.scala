package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CacheScope, GraphOps}

/** `graph_analytics`: PageRank, connected components and k-core, each
  * to convergence and each followed by its fixpoint certificate, over
  * a seeded synthetic graph.
  *
  * The graph is a power-law core (every vertex links to a ring
  * neighbour and to two hub-skewed targets) with chains hanging off
  * it and a few detached chains. The chains give every loop a long
  * tail of rounds in which only a shrinking frontier changes: k-core
  * peels one chain vertex per round, and the core's minimum label
  * walks one chain hop per round.
  */
final class Analytics(spark: SparkSession, tracer: Tracer, seed: Long, work: String)
    extends Workload {
  import Analytics._

  private val g = Analytics.generate(seed)
  private var edges: DataFrame = _
  private var staging = 0

  def stage(): Unit = {
    staging += 1
    val path = s"$work/analytics-$seed-$staging/edges.parquet"
    import spark.implicits._
    g.edges.toSeq.toDF("src", "dst").repartition(Main.Cores)
      .write.mode("overwrite").parquet(path)
    edges = spark.read.parquet(path)
  }

  def pass(): Pass = {
    val t0 = System.nanoTime()
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def op(name: String)(body: => Option[String]): Unit = {
      opsAttempted += 1
      val err = try body catch { case e: Exception => Some(s"$name threw $e") }
      err match {
        case Some(m) => opsFailed += 1; errors += m
        case None => opsCompleted += 1
      }
    }
    op("pagerank") {
      val ranks = tracer.span("graphops.pagerank", "graphops")(
        GraphOps.pageRankConverged(edges, tol = PrTol, maxIterations = MaxRounds))
      tracer.span("graphops.cert", "graphops") {
        val r = GraphOps.pageRankCertificate(edges, ranks, PrTol)
          .agg(count(lit(1)), sum(when(col("converged"), 0L).otherwise(1L))).head()
        check("pagerank", r.getLong(0), r.getLong(1), Seq.empty)
      }
    }
    op("cc") {
      val comp = tracer.span("graphops.cc", "graphops")(
        GraphOps.connectedComponentsConverged(edges, maxIterations = MaxRounds))
      val r = tracer.span("graphops.cert", "graphops")(
        GraphOps.connectedComponentsCertificate(edges, comp)
          .agg(count(lit(1)), sum(when(col("converged"), 0L).otherwise(1L))).head())
      val nComp = tracer.span("bench.check", "bench")(comp.select(col("comp")).distinct().count())
      check("cc", r.getLong(0), r.getLong(1),
        if (nComp == g.components) Seq.empty
        else Seq(s"cc: $nComp components, expected ${g.components}"))
    }
    op("kcore") {
      val core = tracer.span("graphops.kcore", "graphops")(
        GraphOps.kCoreConverged(edges, K, maxIterations = MaxRounds))
      val r = tracer.span("graphops.cert", "graphops")(GraphOps.kCoreCertificate(edges, core, K).head())
      val survivors = tracer.span("bench.check", "bench")(core.count())
      val bad = r.getAs[Long]("n_below_k") + r.getAs[Long]("n_deg_mismatch")
      check("kcore", r.getAs[Long]("n_vertices"), bad,
        if (survivors == g.coreSize) Seq.empty
        else Seq(s"kcore: $survivors survivors, expected ${g.coreSize}"))
    }
    CacheScope.global.release()
    Pass((System.nanoTime() - t0) / 1e9, errors.isEmpty, errors.headOption)
  }

  private def check(what: String, rows: Long, violations: Long, extra: Seq[String]): Option[String] =
    (Seq(
      if (rows == g.vertices) None else Some(s"$what certificate has $rows rows, expected ${g.vertices}"),
      if (violations == 0) None else Some(s"$what certificate has $violations false rows")
    ).flatten ++ extra).headOption

  def finalCheck(): Boolean = true
  // the second pass still runs ~10 % faster than the first (JIT), so
  // every run holds both
  override def minPasses: Int = 2

  def report(windowS: Double): Seq[Main.Metric] = Seq(
    Main.Metric("input.vertices", g.vertices.toDouble, "count"),
    Main.Metric("input.edges", g.edges.size.toDouble, "count"),
    Main.Metric("input.longest_chain", g.longestChain.toDouble, "count"))

  def close(): Unit = CacheScope.global.release()
}

object Analytics {
  val CoreVertices = 4000
  val Chains = 60
  val ChainLen = (3, 7)
  val Detached = 5
  val K = 2
  val PrTol = 3e-2
  val MaxRounds = 200

  final case class Graph(edges: Array[(Long, Long)], vertices: Long, components: Long,
                         coreSize: Long, longestChain: Int)

  /** The seeded graph plus the reference answers the checks use:
    * vertex count, component count (union-find) and 2-core size
    * (peeling), all computed here without Spark. */
  def generate(seed: Long): Graph = {
    val rnd = new scala.util.Random(seed)
    val es = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    def add(a: Long, b: Long): Unit = if (a != b && !es.contains((b, a))) es += ((a, b))
    val n = CoreVertices.toLong
    for (v <- 0L until n) {
      add(v, (v + 1) % n)
      for (_ <- 1 to 2) add(v, (math.pow(rnd.nextDouble(), 3) * n).toLong)
    }
    var next = n
    var longest = 0
    def chain(anchor: Option[Long]): Unit = {
      val len = ChainLen._1 + rnd.nextInt(ChainLen._2 - ChainLen._1 + 1)
      longest = math.max(longest, len)
      val ids = (0 until len).map(_ => { next += 1; next - 1 })
      anchor.foreach(a => add(ids.head, a))
      ids.sliding(2).foreach { case Seq(a, b) => add(b, a) }
    }
    (1 to Chains).foreach(_ => chain(Some(rnd.nextInt(CoreVertices).toLong)))
    (1 to Detached).foreach(_ => chain(None))
    val edges = es.toArray
    val nv = next

    val parent = Array.tabulate(nv.toInt)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); var y = x
      while (parent(y) != r) { val p = parent(y); parent(y) = r; y = p }; r }
    edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
    val comps = (0 until nv.toInt).map(find).distinct.size

    val adj = Array.fill(nv.toInt)(scala.collection.mutable.Set.empty[Int])
    edges.foreach { case (a, b) => adj(a.toInt) += b.toInt; adj(b.toInt) += a.toInt }
    val alive = Array.fill(nv.toInt)(true)
    var frontier = (0 until nv.toInt).filter(v => adj(v).size < K)
    while (frontier.nonEmpty) {
      frontier.foreach(alive(_) = false)
      val touched = frontier.flatMap(adj(_)).distinct.filter(alive(_))
      frontier.foreach(v => adj(v).foreach(u => adj(u) -= v))
      frontier = touched.filter(v => adj(v).size < K)
    }
    Graph(edges, nv, comps, alive.count(identity).toLong, longest)
  }
}
