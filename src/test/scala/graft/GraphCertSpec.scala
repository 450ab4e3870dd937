package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphOps

/** Fixpoint certificates for the converged graph forms: a certificate
  * must (a) pass on the converged output and (b) FAIL on an
  * under-iterated run — otherwise it certifies nothing. The toy graphs
  * here are cyclic / deep on purpose: the harness hierarchy graph
  * converges in a few rounds, so only an adversarial fixture can prove
  * the negative direction.
  */
class GraphCertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // a directed 6-cycle plus a chord: cyclic, so fixed-depth PageRank
  // is genuinely unconverged at low depth
  private def cycleEdges = Seq(
    (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 1L), (1L, 4L)
  ).toDF("src", "dst")

  // K4 (a real 3-core) plus a CASCADE appendage: 5 touches {4,6,7}
  // (degree 3, survives round 1) but 6 and 7 (degree 2 each) peel
  // off in round 1, stranding 5 at degree 1 — so a 1-round peel
  // leaves a degree<3 vertex and only round 2 removes it
  private def cascadeEdges = (
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)) ++
      Seq((4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L))
  ).toDF("src", "dst")

  // a multigraph: a triangle with a duplicate edge and a self-loop, a
  // 3-hop tail (so 1-round CC and a 1-round 2-core peel are
  // unconverged), and two edges with a null end, which name no vertex
  private def multiEdges = Seq[(Option[Long], Option[Long])](
    (Some(1L), Some(2L)), (Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(3L), Some(1L)),
    (Some(3L), Some(3L)), (Some(3L), Some(4L)), (Some(4L), Some(5L)), (Some(5L), Some(6L)),
    (Some(6L), None), (None, Some(1L))
  ).toDF("src", "dst")

  private def verdicts(cert: DataFrame): Map[Long, Boolean] = {
    val rows = cert.collect()
    assert(rows.forall(!_.isNullAt(0)), "a null-end edge must not yield a null-id row")
    val m = rows.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(m.size == rows.length, "one row per vertex")
    m
  }

  test("certificates on a multigraph: duplicate edges, a self-loop, null ends") {
    val e = multiEdges
    val tol = 1e-9
    val pr = verdicts(GraphOps.pageRankCertificate(e,
      GraphOps.pageRankConverged(e, tol = tol, maxIterations = 200), tol))
    assert(pr.keySet == (1L to 6L).toSet && pr.values.forall(identity), pr)
    assert(verdicts(GraphOps.pageRankCertificate(e, GraphOps.pageRank(e, 1), tol)).exists(!_._2))

    val cc = verdicts(GraphOps.connectedComponentsCertificate(e, GraphOps.connectedComponentsConverged(e)))
    assert(cc.keySet == (1L to 6L).toSet && cc.values.forall(identity), cc)
    assert(verdicts(GraphOps.connectedComponentsCertificate(e, GraphOps.connectedComponents(e, 1)))
      .exists(!_._2))
    val rootless = (1L to 6L).map(i => (i, 0L)).toDF("id", "comp")
    assert(verdicts(GraphOps.connectedComponentsCertificate(e, rootless)).values.forall(!_))

    val good = GraphOps.kCoreCertificate(e, GraphOps.kCoreConverged(e, k = 2), 2).collect().head
    assert((good.getLong(0), good.getLong(1), good.getLong(2)) == ((6L, 0L, 0L)))
    val bad = GraphOps.kCoreCertificate(e, GraphOps.kCore(e, k = 2, iterations = 1), 2).collect().head
    assert(bad.getLong(0) == 6L && bad.getLong(1) > 0L, "an under-peeled core must report degree<k rows")
  }

  test("pageRankCertificate: converged passes, 1-iteration run fails") {
    val e = cycleEdges
    val tol = 1e-9
    val good = GraphOps.pageRankCertificate(e,
      GraphOps.pageRankConverged(e, tol = tol, maxIterations = 200), tol)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(good.size == 6 && good.values.forall(identity))

    val bad = GraphOps.pageRankCertificate(e, GraphOps.pageRank(e, 1), tol)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(bad.exists(!_._2), "1-iteration ranks must fail the certificate")
  }

  test("ccCertificate: converged passes, under-iterated and fake labels fail") {
    // a path 1-2-3-...-8: diameter 7, so 2 iterations cannot converge
    val e = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val good = GraphOps.connectedComponentsCertificate(e,
      GraphOps.connectedComponentsConverged(e))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(good.size == 8 && good.values.forall(identity))

    val under = GraphOps.connectedComponentsCertificate(e,
      GraphOps.connectedComponents(e, 2))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(under.exists(!_._2), "under-iterated labels must fail edge-constancy")

    // constant-but-rootless labels (every vertex labeled 0, no vertex
    // 0 exists): edge-constant, yet the root check must reject it
    val fakeLabels = (1L to 8L).map(i => (i, 0L)).toDF("id", "comp")
    val rootless = GraphOps.connectedComponentsCertificate(e, fakeLabels)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(rootless.values.forall(v => !v), "rootless labels must fail")
  }

  test("converged loops reuse their generated code: a second run compiles nothing") {
    // every class a converged loop generates must be keyed by the
    // plan's shape alone, or each round of every call compiles anew
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val path = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val runs = Seq[(String, () => DataFrame)](
      "pageRankConverged" -> (() => GraphOps.pageRankConverged(cycleEdges, tol = 1e-9)),
      "connectedComponentsConverged" -> (() => GraphOps.connectedComponentsConverged(path)),
      "kCoreConverged" -> (() => GraphOps.kCoreConverged(cascadeEdges, k = 3)))
    val recompiled = runs.map { case (name, run) =>
      val first = run().collect().toSet
      val before = compiles
      val second = run().collect().toSet
      assert(second == first, s"$name: the second run's output differs")
      name -> (compiles - before)
    }.filter(_._2 != 0L)
    assert(recompiled.isEmpty, s"classes compiled by the second run: $recompiled")
  }

  test("kCoreCertificate: converged passes, under-peeled fails") {
    val e = cascadeEdges

    val good = GraphOps.kCoreCertificate(e, GraphOps.kCoreConverged(e, k = 3), 3)
      .collect().head
    assert(good.getLong(0) == 7L) // full graph has 7 vertices
    assert(good.getLong(1) == 0L && good.getLong(2) == 0L)

    val bad = GraphOps.kCoreCertificate(e, GraphOps.kCore(e, k = 3, iterations = 1), 3)
      .collect().head
    assert(bad.getLong(1) > 0L, "an under-peeled core must report degree<k rows")
  }
}
