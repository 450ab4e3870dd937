package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphOps, Sampling, Sketches}

/** Functional specs for the batch-11 operators: oriented triangle
  * counting, split hashing, epoch shuffle, text retrieval.
  */
class Queries11Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tri(edges: Seq[(Long, Long)]): (Long, Long, Long) = {
    val r = GraphOps.triangleCount(edges.toDF("src", "dst")).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  test("triangle count on known motifs") {
    // K4: 6 edges, 4 triangles
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    assert(tri(k4) == ((6L, 4L, 4L)))
    // square + one diagonal: 5 edges, 2 triangles
    val sq = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    assert(tri(sq)._3 == 2L)
    // triangle-free: path
    assert(tri(Seq((1L, 2L), (2L, 3L), (3L, 4L)))._3 == 0L)
  }

  test("triangle count canonicalizes dup edges, reversals, self-loops") {
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L),
      (1L, 3L), (2L, 2L), (1L, 2L))
    val (e, _, t) = tri(messy)
    assert(e == 3L && t == 1L)
  }

  test("orientation contains the hub: star graph enumerates zero wedges") {
    // naive wedge join on a star would enumerate C(n,2) pairs through
    // the hub; degree orientation points every edge AT the hub, so no
    // vertex has out-degree > 1 and the wedge count is exactly 0
    val star = (2L to 40L).map(i => (1L, i))
    val (e, w, t) = tri(star)
    assert(e == 39L && w == 0L && t == 0L)
  }

  test("property: oriented triangle count equals brute force on random graphs") {
    val rnd = new scala.util.Random(13)
    for (trial <- 1 to 5) {
      val n = 12 + trial * 4
      val edges = (for {
        a <- 1L to n.toLong; b <- (a + 1) to n.toLong
        if rnd.nextDouble() < 0.25
      } yield (a, b)).toSeq
      val expected = {
        val es = edges.toSet
        (for {
          a <- 1L to n.toLong; b <- (a + 1) to n.toLong; c <- (b + 1) to n.toLong
          if es((a, b)) && es((b, c)) && es((a, c))
        } yield 1).size.toLong
      }
      assert(tri(edges)._3 == expected, s"trial $trial: n=$n")
    }
  }

  test("k-core peels pendant chains and keeps the clique") {
    // K4 with a pendant path 4-5-6: the 2-core is exactly the K4
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val out = GraphOps.kCore(edges, k = 2, iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the max degree peels everything
    assert(GraphOps.kCore(edges, k = 5, iterations = 3).count() == 0)
  }

  test("kCoreConverged fully peels a chain longer than any fixed depth") {
    // K4 with a 12-hop pendant chain: each peel round removes exactly
    // one chain vertex (the current leaf), so reaching the 2-core needs
    // 12 rounds — more than the fixed depth below
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val chain = (4L to 15L).map(i => (i, i + 1))
    val edges = (k4 ++ chain).toDF("src", "dst")
    // fixed depth 3 provably does NOT converge: leftover chain vertices
    // with degree < k are still present (the superset failure mode)
    val fixed = GraphOps.kCore(edges, k = 2, iterations = 3)
      .as[(Long, Long)].collect().toMap
    assert(fixed.exists(_._2 < 2), "fixed depth unexpectedly converged")
    assert(fixed.size > 4)
    // converged mode reaches the true 2-core (exactly the K4) and
    // leaves no vertex under degree k
    val conv = GraphOps.kCoreConverged(edges, k = 2)
      .as[(Long, Long)].collect().toMap
    assert(conv == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // runaway bound exits early but the non-convergence is visible
    val bounded = GraphOps.kCoreConverged(edges, k = 2, maxIterations = 2)
      .as[(Long, Long)].collect().toMap
    assert(bounded.exists(_._2 < 2), "bound exit must reveal non-convergence")
    // k above the max degree peels everything
    assert(GraphOps.kCoreConverged(edges, k = 5).count() == 0)

    def core(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toMap
    // seeded random core with pendant chains hanging off it and one
    // detached chain: the chains peel one vertex per round
    val rnd = new scala.util.Random(7)
    val coreEdges = for {
      a <- 1L to 16L; b <- (a + 1) to 16L if rnd.nextDouble() < 0.3
    } yield (a, b)
    var next = 100L
    val chains = (1 to 4).flatMap { _ =>
      val len = 2 + rnd.nextInt(5)
      val ids = (1L + rnd.nextInt(16)) +: (next until next + len)
      next += len
      ids.zip(ids.tail)
    } ++ (next until next + 4).zip(next + 1 until next + 5)
    val rand = (coreEdges ++ chains).toDF("src", "dst")
    // every round before the fixpoint peels >= 1 vertex, so the vertex
    // count bounds the round count
    val n = (coreEdges ++ chains).flatMap(e => Seq(e._1, e._2)).distinct.size
    for (k <- Seq(2, 3)) {
      val c = core(GraphOps.kCoreConverged(rand, k))
      assert(c == core(GraphOps.kCore(rand, k, iterations = n)), s"k=$k")
      assert(c.nonEmpty && c.values.forall(_ >= k), s"k=$k")
    }
    // the bound exit stops after the same rounds as a fixed peel
    for (m <- Seq(1, 3)) assert(
      core(GraphOps.kCoreConverged(rand, k = 2, maxIterations = m)) ==
        core(GraphOps.kCore(rand, k = 2, iterations = m)), s"maxIterations=$m")

    // GraphCertSpec's cascade: 6 and 7 peel in round 1 and strand 5
    // (degree 3 entering the round) at degree 1 — a vertex survives a
    // round on its entering degree and peels in the next
    val cascade = (k4 ++ Seq((4L, 5L), (5L, 6L), (5L, 7L), (6L, 7L))).toDF("src", "dst")
    val k4Core = Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    assert(core(GraphOps.kCoreConverged(cascade, k = 3)) == k4Core)
    assert(core(GraphOps.kCore(cascade, k = 3, iterations = 5)) == k4Core)
    val one = core(GraphOps.kCoreConverged(cascade, k = 3, maxIterations = 1))
    assert(one == core(GraphOps.kCore(cascade, k = 3, iterations = 1)))
    assert(one.get(5L).contains(1L), "the stranded vertex survives round 1")
  }

  test("connectedComponentsConverged equals the fixed form past the round count and at every bound") {
    def comps(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Long)].collect().toMap
    // seeded random core (a path plus random chords, so connected) with
    // pendant chains of 5-9 hops hanging off it (the smallest label
    // sits in the core, so it walks the whole chain)
    // and one detached 6-hop chain labelled from its far end
    val rnd = new scala.util.Random(11)
    val coreEdges = (1L until 12L).map(i => (i, i + 1)) ++ (for {
      a <- 1L to 12L; b <- (a + 2) to 12L if rnd.nextDouble() < 0.3
    } yield (a, b))
    var next = 100L
    val chains = (1 to 3).flatMap { _ =>
      val len = 5 + rnd.nextInt(5)
      val ids = (1L + rnd.nextInt(12)) +: (next until next + len)
      next += len
      ids.zip(ids.tail)
    } ++ (next + 6 until next by -1).zip(next + 5 to next by -1)
    val all = coreEdges ++ chains
    val edges = all.toDF("src", "dst")
    // labels settle within the longest shortest path, so the vertex
    // count is past the round count
    val n = all.flatMap(e => Seq(e._1, e._2)).distinct.size
    val conv = comps(GraphOps.connectedComponentsConverged(edges))
    assert(conv == comps(GraphOps.connectedComponents(edges, iterations = n)))
    assert(conv.size == n && conv.values.toSet.size == 2, "core + detached chain")
    // each bound exit stops after the same steps as the fixed form,
    // including the partial last window (4 = one window of 3 + 1)
    for (m <- Seq(1, 2, 4)) {
      val fixed = comps(GraphOps.connectedComponents(edges, iterations = m))
      assert(fixed != conv, s"depth $m unexpectedly converged")
      assert(comps(GraphOps.connectedComponentsConverged(edges, maxIterations = m)) == fixed,
        s"maxIterations=$m")
    }
  }

  test("pageRankConverged reaches the fixpoint a shallow fixed run misses") {
    // depth-8 chain: deltas flush out of a DAG in depth rounds, so the
    // probe reaches the EXACT quantized fixpoint around round 9 —
    // while a fixed-depth-2 run still misses every ancestor term
    // beyond distance 2 (~0.29 of rank mass at the tail)
    val edges = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    def ranksOf(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Double)].collect().toMap
    val conv = ranksOf(GraphOps.pageRankConverged(edges, tol = 1e-9))
    val deep = ranksOf(GraphOps.pageRank(edges, 30))
    val shallow = ranksOf(GraphOps.pageRank(edges, 2))
    // converged equals the deep fixed run EXACTLY: both sit on the
    // same 1e-9-quantized fixpoint once deltas have flushed
    assert(conv == deep)
    // ...and it is NOT the shallow result: it genuinely iterated on
    assert(conv.exists { case (id, r) => math.abs(r - shallow(id)) > 1e-3 })
    // runaway bound: maxIterations=1 returns the 1-step ranks
    val one = ranksOf(GraphOps.pageRankConverged(edges, tol = 1e-9, maxIterations = 1))
    assert(one.exists { case (id, r) => math.abs(r - conv(id)) > 1e-3 })
  }

  test("personalizedPageRank concentrates mass downstream of the seeds") {
    // two disjoint chains; seeding only chain A must leave chain B at 0
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
      .toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val r = GraphOps.personalizedPageRank(edges, seeds, 6)
      .as[(Long, Double)].collect().toMap
    // replicate the exact recurrence in plain Scala
    val verts = Seq(1L, 2L, 3L, 10L, 11L, 12L)
    val out = Map(1L -> Seq(2L), 2L -> Seq(3L), 10L -> Seq(11L), 11L -> Seq(12L))
    var rk = verts.map(v => v -> (if (v == 1L) 1.0 else 0.0)).toMap
    for (_ <- 1 to 6) {
      val inflow = verts.map { v =>
        v -> verts.filter(u => out.getOrElse(u, Nil).contains(v))
          .map(u => rk(u) / out(u).size).sum
      }.toMap
      rk = verts.map(v =>
        v -> ((if (v == 1L) 0.15 else 0.0) +
          0.85 * (math.round(inflow(v) * 1e9).toDouble / 1e9))).toMap
    }
    verts.foreach(v => assert(math.abs(r(v) - rk(v)) < 1e-12, s"vertex $v"))
    assert(r(10L) == 0.0 && r(11L) == 0.0 && r(12L) == 0.0)
  }

  test("k-core at the query's depth is converged: one more peel changes nothing") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.sources.Tables.read(spark, dir, "lineitem")
      .filter($"l_quantity" >= 25)
      .select($"l_orderkey", $"l_partkey".cast("long").as("pk"))
    val pairs = li.as("l1").join(li.as("l2"),
        $"l1.l_orderkey" === $"l2.l_orderkey" && $"l1.pk" < $"l2.pk")
      .select($"l1.pk".as("src"), $"l2.pk".as("dst"))
    val at = GraphOps.kCore(pairs, 4, 6).as[(Long, Long)].collect().toSet
    val more = GraphOps.kCore(pairs, 4, 7).as[(Long, Long)].collect().toSet
    assert(at == more)
    assert(at.forall(_._2 >= 4), "fixed point is the k-core: min degree >= k")
  }

  test("detHash2 populates every small bucket on contiguous ids") {
    val buckets = (1L to 10000L).toDF("id")
      .select((Sampling.detHash2($"id") % 100L).as("b"))
      .distinct().as[Long].collect().toSet
    assert(buckets == (0L to 99L).toSet)
    // the single-round hash provably does NOT (the lattice gap that
    // motivated detHash2) on a small contiguous range
    val single = (1L to 500L).toDF("id")
      .select((Sampling.detHash($"id") % 100L).as("b"))
      .distinct().collect().length
    assert(single < 100)
  }

  test("epoch shuffle assigns a full permutation distinct from id order") {
    val rows = SparkEntry.queries("samp_epoch_shuffle")(
        spark, "/root/testdata/sf0.001")
      .as[(Long, Long)].collect()
    val n = rows.length
    assert(rows.map(_._2).sorted.toSeq == (1L to n))
    // a seeded shuffle that equals id order would be broken
    val inOrder = rows.sortBy(_._1).map(_._2)
    assert(inOrder.toSeq != (1L to n))
  }

  test("keyword search ranks by total tf over docs containing all terms") {
    val out = SparkEntry.queries("txt_keyword_search")(
        spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val tfs = Seq(r.getLong(1), r.getLong(2), r.getLong(3))
      assert(tfs.forall(_ > 0), "conjunctive: every term present")
      assert(r.getLong(4) == tfs.sum)
    }
    val totals = out.map(_.getLong(4))
    assert(totals.sameElements(totals.sortBy(-_)), "ranked by tf_total desc")
  }

  test("KMV sketch merge equals the direct sketch for any split") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 4000).map(_ => ("g" + rnd.nextInt(3), rnd.nextInt(100000).toLong))
    val df = rows.toDF("g0", "id")
    val direct = Sketches.estimate(
      Sketches.retention(df, $"g0", $"id", 16), 16).collect().map(_.toSeq).toSet
    // split by parity of id — a skewed, group-uncorrelated split
    val a = Sketches.retention(df.filter($"id" % 2 === 0), $"g0", $"id", 16)
    val b = Sketches.retention(df.filter($"id" % 2 =!= 0), $"g0", $"id", 16)
    val merged = Sketches.estimate(
      Sketches.mergeSketches(Seq(a, b), 16), 16).collect().map(_.toSeq).toSet
    assert(merged == direct)
  }

  test("histogram quantile sketch: merge equals direct; error within one cell") {
    val rnd = new scala.util.Random(11)
    val vals = (1 to 5000).map(_ => rnd.nextDouble() * 1000.0)
    val df = vals.map(Tuple1(_)).toDF("x")
    val (lo, hi, bins) = (0.0, 1000.0, 200)
    val direct = Sketches.histCounters(df, $"x", lo, hi, bins)
    // merge≡direct for any split: cell-wise count addition
    val h1 = Sketches.histCounters(df.filter($"x" < 300.0), $"x", lo, hi, bins)
    val h2 = Sketches.histCounters(df.filter($"x" >= 300.0), $"x", lo, hi, bins)
    val merged = Sketches.mergeHist(Seq(h1, h2))
    assert(merged.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      direct.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    // every quantile estimate within one cell width of the exact value
    val cell = (hi - lo) / bins
    val qs = Seq(0.25, 0.5, 0.75, 0.95)
    val est = Sketches.histQuantiles(direct, lo, hi, bins, qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(4)).toMap
    val sorted = vals.sorted
    qs.foreach { q =>
      val exact = sorted(math.ceil(q * sorted.size).toInt - 1)
      assert(math.abs(est(q) - exact) <= cell,
        s"q=$q est=${est(q)} exact=$exact cell=$cell")
    }
    // out-of-range values clamp to edge cells, nulls/NaN drop
    val edge = Seq(-5.0, 1e9, Double.NaN).map(Tuple1(_)).toDF("x")
    val eb = Sketches.histCounters(edge, $"x", lo, hi, bins)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(eb == Map(0L -> 1L, (bins - 1).toLong -> 1L))

    // grouped form: each group's quantiles equal the ungrouped sketch
    // run on that group alone
    val gdf = vals.zipWithIndex.map { case (x, i) => (s"g${i % 2}", x) }
      .toDF("g", "x")
    val grouped = Sketches.histQuantilesBy(
      Sketches.histCountersBy(gdf, $"g", $"x", lo, hi, bins),
      lo, hi, bins, qs)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(5)).toMap
    Seq("g0", "g1").foreach { g =>
      val solo = Sketches.histQuantiles(
        Sketches.histCounters(gdf.filter($"g" === g), $"x", lo, hi, bins),
        lo, hi, bins, qs)
        .collect().map(r => r.getDouble(0) -> r.getDouble(4)).toMap
      qs.foreach(q => assert(grouped((g, q)) == solo(q), s"$g q=$q"))
    }
  }

  test("streaming KMV final state equals the batch sketch") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.streaming.StreamingSketch.kmvOnce(
        spark, s"$dir/events.parquet", "event_type", "user_id", 32,
        queryName = "stream_kmv_spec")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val want = Sketches.kmvDistinct(
        graft.sources.Tables.read(spark, dir, "events"),
        col("event_type"), col("user_id"), 32)
      .select($"g", $"k_n", $"kth_hash", $"est")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want)
  }

  test("integer tf-idf scores are positive and ranked") {
    val out = SparkEntry.queries("txt_tfidf_topk")(
        spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty && out.length <= 50)
    val scores = out.map(_.getLong(1))
    assert(scores.forall(_ > 0))
    assert(scores.sameElements(scores.sortBy(-_)), "ranked by score desc")
    // a disjunctive ranker must surface at least as many docs as the
    // conjunctive search over the same terms
    val conj = SparkEntry.queries("txt_keyword_search")(
      spark, "/root/testdata/sf0.001").count()
    assert(out.length >= math.min(conj, 50L))
  }
}
