package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, GraphOps, TimeSeries}

/** Batch-20 operators: lag-truncated EWMA, weighted shortest paths,
  * directed n-gram containment — semantics pinned on hand-built toys.
  */
class Batch20Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- ewmaLag ----

  private def series(rows: (Long, Long, Double)*) =
    rows.toSeq.toDF("k", "t", "v")

  test("ewma: a constant series smooths to itself at every depth") {
    val df = series((1L, 1L, 7.5), (1L, 2L, 7.5), (1L, 3L, 7.5), (1L, 4L, 7.5))
    val out = TimeSeries.ewmaLag(df, col("k"), col("v"), Seq(col("t")), depth = 3)
      .select(col("t"), col("ewma_milli")).collect()
    assert(out.forall(_.getLong(1) == 7500L))
  }

  test("ewma: warm-up rows average only the lags that exist") {
    // depth 3, weights 4/2/1. Row 1 sees only itself: 10_000 milli.
    // Row 2: (4*20000 + 2*10000) div 6 = 16666. Row 3 has the full
    // window: (4*30000 + 2*20000 + 1*10000) div 7 = 24285.
    val df = series((1L, 1L, 10.0), (1L, 2L, 20.0), (1L, 3L, 30.0))
    val out = TimeSeries.ewmaLag(df, col("k"), col("v"), Seq(col("t")), depth = 3)
      .orderBy(col("t")).select(col("ewma_milli")).collect().map(_.getLong(0))
    assert(out.sameElements(Array(10000L, 16666L, 24285L)))
  }

  test("ewma: keys smooth independently") {
    val df = series((1L, 1L, 100.0), (2L, 1L, 0.0), (2L, 2L, 0.0))
    val out = TimeSeries.ewmaLag(df, col("k"), col("v"), Seq(col("t")), depth = 4)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(out == Set((1L, 100000L), (2L, 0L)))
  }

  // ---- weightedSssp ----

  private def wedges(rows: (Long, Long, Long)*) =
    rows.toSeq.toDF("src", "dst", "w")

  test("weighted sssp: a cheap 2-hop path beats an expensive direct edge") {
    // 1→3 direct costs 10; 1→2→3 costs 4
    val e = wedges((1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 2L))
    val out = GraphOps.weightedSssp(e, Seq(1L).toDF("id"), iterations = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 2L, 3L -> 4L))
  }

  test("weighted sssp: vertices beyond the iteration horizon stay null") {
    val e = wedges((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
    val out = GraphOps.weightedSssp(e, Seq(1L).toDF("id"), iterations = 1)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(out(2L).contains(1L) && out(3L).isEmpty && out(4L).isEmpty)

    // seeded weighted graph against a Spark-free depth-bounded
    // Bellman-Ford: dist_0 = sources, and every round relaxes every edge
    // once from the previous round's distances, keeping the old distance
    // (the zero-weight self-loop)
    val rnd = new scala.util.Random(5)
    val rand = (for {
      a <- 1L to 30L; b <- 1L to 30L if a != b && rnd.nextDouble() < 0.06
    } yield (a, b, 1L + rnd.nextInt(9))) ++
      (40L to 47L).map(i => (i, i + 1, 1L)) // a chain deeper than the depth
    val sources = Seq(1L, 2L, 40L, 999L) // 999: no incident edge
    val depth = 4
    val expected = (1 to depth).foldLeft(sources.map(_ -> 0L).toMap) { (d, _) =>
      rand.foldLeft(d) { case (acc, (u, v, w)) =>
        d.get(u).fold(acc)(du => acc.updated(v, acc.get(v).fold(du + w)(math.min(_, du + w))))
      }
    }
    val got = GraphOps.weightedSssp(wedges(rand: _*), sources.toDF("id"), iterations = depth)
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val vertices = (rand.flatMap(e => Seq(e._1, e._2)) ++ sources).toSet
    assert(got == vertices.map(v => v -> expected.get(v)).toMap)
    assert(got(999L).contains(0L), "an isolated source keeps dist 0")
    assert(got(48L).isEmpty && got.values.count(_.isEmpty) > 1,
      "vertices beyond the depth stay null")
  }

  test("weighted sssp with unit weights equals hop-count shortest paths") {
    val e = wedges((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L))
    val w = GraphOps.weightedSssp(e, Seq(1L).toDF("id"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = GraphOps.shortestPaths(e.drop("w"), Seq(1L).toDF("id"), iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w == h)
  }

  // ---- ngramContainment ----

  test("containment: a quoted excerpt scores 1000 toward its host, not back") {
    val short = "alpha beta gamma delta epsilon"
    val long = ("zeta eta theta " * 20) + short + (" iota kappa lambda" * 20)
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val out = Dedup.ngramContainment(docs, "text", "doc_id",
        tokenize = t => split(graft.functions.TextFunctions.normText(t), " "),
        gramLen = 3, thresholdMilli = 300, maxDf = None)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 2L)) == 1000L, "every gram of the excerpt is in the host")
    assert(!out.contains((2L, 1L)), "the host is mostly NOT in the excerpt")
  }
}
