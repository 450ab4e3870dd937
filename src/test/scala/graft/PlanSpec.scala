package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality audits: the optimizations the engine's scale story
  * depends on must be visible in the physical plans, not assumed
  * (builder brief: ".explain the plan and iterate until it's the plan
  * you'd want").
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    // materialize THIS QueryExecution (collect, not write — write
    // builds its own) so AQE finalizes: pre-execution plans hide
    // WholeStageCodegen spans and final join strategies
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("filters and projection push down to the parquet scan") {
    val p = plan("s2_pushdown_scan")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThan(l_quantity"), p)
    // pruned read schema — none of the unused lineitem columns
    assert(!p.contains("l_extendedprice"), "projection not pruned:\n" + p)
  }

  test("dim joins broadcast; fact side is not shuffled for the join") {
    val p = plan("j1_broadcast_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("roll-up is a partial+final hash aggregate inside codegen") {
    val p = plan("a1_daily_rollup")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("*("), "no WholeStageCodegen span:\n" + p)
  }

  test("semi/anti joins plan as join types, not subquery re-scans") {
    assert(plan("j6_semi").contains("LeftSemi"), plan("j6_semi"))
    assert(plan("j6_anti").contains("LeftAnti"), plan("j6_anti"))
  }

  test("global top-k plans as TakeOrderedAndProject, not a global window") {
    val p = plan("o4_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("native cosine stays inside whole-stage codegen in the ANN scan") {
    val p = plan("vec_topk_bruteforce")
    assert(p.contains("*("), "no WholeStageCodegen span:\n" + p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("interval join is an equi-join on the time bucket, never a nested loop") {
    val p = plan("j9_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__bucket"), "bucket key missing from the join:\n" + p)
  }

  test("blocked fuzzy join is an equi-join on the block key, never a nested loop") {
    val p = plan("f_fuzzy_match_blocked")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("__bk"), "block key missing from the join:\n" + p)
  }

  test("batch kNN join: corpus⋈probes is a SHUFFLED equi-join on cell") {
    // the broadcast-probe form (ivfTopK) is for interactive query
    // counts; the kNN-join form must keep both big sides shuffled —
    // a broadcast of a corpus-sized probe set would ship the whole
    // query corpus to every task
    val p = plan("vec_ivf_knn_join")
    assert(p.contains("ShuffledHashJoin"), "cell join not shuffled:\n" + p)
  }

  test("salted skew join spreads the shuffle over the salt") {
    val p = plan("j10_salted_skew")
    assert(p.contains("__salt"), "salt missing from the shuffle keys:\n" + p)
  }

  /** Shuffle exchanges in the final (post-AQE) plan of `df`. */
  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    // AQE's toString prints the final plan followed by the pre-AQE
    // initial plan — count exchanges in the final section only
    val s = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    "Exchange hashpartitioning".r.findAllIn(s).length
  }

  test("native signature kernels run per-row — no Generate, no signature aggregate") {
    // the simhash fingerprint is one native expression per document:
    // the pre-kernel form had an explode (Generate) feeding a 64-sum
    // aggregate, which this guards against reintroducing
    val sh = plan("dd_simhash")
    assert(sh.toLowerCase.contains("simhash64"), sh)
    assert(!sh.contains("Generate"), "explode reintroduced in simhash:\n" + sh)
    // minhash still explodes for banding, but the signature itself
    // must be the native kernel, not a k-wide min aggregate
    val mh = plan("dd_minhash_lsh")
    assert(mh.toLowerCase.contains("minhashsignature"), mh)
    val emb = plan("dd_embedding_neardup")
    assert(emb.toLowerCase.contains("hyperplanesig"), emb)
    val ng = plan("dd_ngram_jaccard")
    assert(ng.toLowerCase.contains("distinctwordgrams"), ng)
  }

  // The scale claim for the iterative graph loops: ONE shuffle per
  // iteration (the message combine) and nothing else — no
  // per-iteration state ⋈ edges exchange, no per-iteration blocking
  // materialization. The loops run on RDDs, so count the
  // ShuffleDependencies in the output's RDD lineage, after an action
  // has materialized the checkpointed inputs (whose setup shuffles the
  // checkpoint cut from the lineage).
  private def loopShuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(rdd: org.apache.spark.rdd.RDD[_]): Int =
      if (!seen.add(rdd.id)) 0
      else rdd.dependencies.map { d =>
        walk(d.rdd) + (d match {
          case _: org.apache.spark.ShuffleDependency[_, _, _] => 1
          case _ => 0
        })
      }.sum
    walk(df.queryExecution.toRdd)
  }

  private def pathEdges = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L)).toDF("src", "dst")
  }

  test("pageRank plans one shuffle per iteration and nothing more") {
    val iters = 5
    val n = loopShuffles(graft.operators.GraphOps.pageRank(pathEdges, iters))
    assert(n == iters, s"expected $iters shuffles, saw $n")
  }

  test("personalized pageRank plans one shuffle per iteration; reset re-join is exchange-free") {
    import spark.implicits._
    val seeds = Seq(Tuple1(1L)).toDF("id")
    val iters = 5
    val n = loopShuffles(
      graft.operators.GraphOps.personalizedPageRank(pathEdges, seeds, iters))
    assert(n == iters, s"expected $iters shuffles, saw $n")
  }

  test("connected components plans one shuffle per iteration and nothing more") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (3L, 4L), (4L, 5L), (7L, 3L))
      .toDF("src", "dst")
    val iters = 4
    val n = loopShuffles(graft.operators.GraphOps.connectedComponents(edges, iters))
    assert(n == iters, s"expected $iters shuffles, saw $n")
  }

  test("hits runs one shuffle per half-iteration and nothing more") {
    import spark.implicits._
    val edges = (1L to 400L).map(i => (i % 37, i % 53)).toDF("src", "dst")
    val iters = 3
    val n = loopShuffles(graft.operators.GraphOps.hits(edges, iters))
    assert(n == 2 * iters, s"expected ${2 * iters} shuffles, saw $n")
  }

  test("label propagation plans one shuffle per round and nothing more") {
    import spark.implicits._
    // a duplicate edge and a self-loop: the vote's multiplicity must
    // not cost a shuffle of its own
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 3L), (4L, 1L), (5L, 4L))
      .toDF("src", "dst")
    val iters = 4
    val n = loopShuffles(graft.operators.GraphOps.labelPropagation(edges, iters))
    assert(n == iters, s"expected $iters shuffles, saw $n")
  }

  test("weighted sssp plans one shuffle per relaxation round and nothing more") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 5L), (3L, 4L, 2L), (4L, 1L, 1L))
      .toDF("src", "dst", "w")
    // a duplicate source and one outside the graph
    val sources = Seq(1L, 1L, 9L).toDF("id")
    val iters = 3
    val n = loopShuffles(graft.operators.GraphOps.weightedSssp(edges, sources, iters))
    assert(n == iters, s"expected $iters shuffles, saw $n")
  }

  test("connectedComponentsConverged runs one job per convergence window") {
    import spark.implicits._
    // a path 1..20: the minimum label walks one hop per step, so 19
    // steps change labels — 7 windows of 3, then one that changes
    // nothing
    val edges = (1L to 19L).map(i => (i, i + 1)).toDF("src", "dst")
    val windows = 8
    // a reliable checkpoint writes its files in one more job
    val perWindow = if (graft.operators.CacheScope.reliableDir.isDefined) 2 else 1
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val scope = new graft.operators.CacheScope
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val comp = graft.operators.GraphOps.connectedComponentsConverged(edges, scope = scope)
      org.apache.spark.TestBus.drain(sc)
      assert(jobs.get == windows * perWindow,
        s"expected $windows windows x $perWindow jobs, saw ${jobs.get} jobs")
      assert(comp.collect().forall(_.getLong(1) == 1L))
    } finally {
      sc.removeSparkListener(listener)
      scope.release()
    }
  }

  test("stratified sampling is a pure filter over the scan - no shuffle, no window") {
    val p = plan("samp_stratified")
    assert(!p.contains("Exchange"), "sampling gate must not shuffle:\n" + p)
    assert(!p.contains("Window"), p)
    assert(p.contains("*("), "gate not codegen'd:\n" + p)
  }

  test("per-group cap pre-filters per partition before the one per-group shuffle") {
    val p = plan("samp_capped_per_source")
    // two Window operators (partition-local rank, then exact rank) and
    // the partition-local one keyed by spark_partition_id
    assert("(?s)Window.*Window".r.findFirstIn(p).isDefined, p)
    assert(p.contains("SPARK_PARTITION_ID") || p.contains("spark_partition_id"), p)
  }

  test("int8 quantization stays inside whole-stage codegen over the scan") {
    val p = plan("vec_quantize_int8")
    assert(!p.contains("Exchange"), "quantization is per-row; no shuffle:\n" + p)
  }

  test("distributed-prefix-sum budget broadcasts the offset table; windows stay per-partition") {
    val p = plan("samp_token_budget_large")
    assert(p.contains("BroadcastHashJoin"), "offset table must broadcast:\n" + p)
    // the running-sum window partitions on (stratum, __pid) — the
    // MATERIALIZED partition-id column (spark_partition_id itself sits
    // behind the checkpoint) — never a whole-stratum single reducer
    assert(p.contains("__pid"), p)
  }

  test("exact percentiles window the frequency table, never a sorted fact table") {
    // the scale claim of Percentiles.quantilesDisc: the only operator
    // touching raw lineitem rows is a hash aggregate; every Window
    // (cum/tot) sits ABOVE that aggregate. A full-group sort-based
    // percentile would show a Window whose subtree reaches the scan
    // with no aggregate in between.
    val p = plan("a_quantile_disc")
    val wi = p.lastIndexOf("Window")
    assert(wi >= 0, p)
    val below = p.substring(wi)
    val agg = below.indexOf("HashAggregate")
    val scan = below.indexOf("parquet")
    assert(agg >= 0 && scan > agg,
      "bottom-most Window must read the (group, value, count) aggregate:\n" + p)
  }

  test("date-partitioned layout prunes to one partition directory") {
    val p = plan("s11_partition_prune")
    assert(p.contains("PartitionFilters:"), p)
    assert("PartitionFilters: \\[[^\\]]*day".r.findFirstIn(p).isDefined,
      "day filter must be a partition filter, not a data filter:\n" + p)
  }

  test("sessionization and packing are one shuffle on their stream key") {
    // sessionize: the session aggregate's (user_id, session_idx)
    // clustering is satisfied by the window's hash(user_id) exchange
    // (subset clustering), so the whole query is a single shuffle
    val sess = SparkEntry.queries("w_sessionize")(spark, dir)
    assert(shuffleCount(sess) == 1,
      sess.queryExecution.executedPlan.toString)
    // packing: one window partition per stratum — one exchange on lang
    val pack = SparkEntry.queries("pack_sequence")(spark, dir)
    assert(shuffleCount(pack) == 1,
      pack.queryExecution.executedPlan.toString)
  }

  test("hash reservoir plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("samp_hash_reservoir")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"),
      "top-k must not range-shuffle the corpus:\n" + p)
  }

  test("global index broadcasts the offset table; the fact window is per-partition") {
    val p = plan("o5_global_index")
    assert(p.contains("BroadcastHashJoin"), "offset table must broadcast:\n" + p)
    // the big-frame window partitions on the materialized partition id
    assert(p.contains("__pid"), p)
  }

  test("KMV retention prefilters per partition before the per-group rank") {
    val p = plan("a_kmv_distinct")
    // phase-1 window partitions on (g, __pid): bounds every partition's
    // contribution to k rows per group before the global per-group rank
    assert(p.contains("__pid"), p)
  }

  test("keyword search is scan-local: HOF scoring, no shuffle, top-k merge") {
    val p = plan("txt_keyword_search")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"),
      "scoring+filter+top-k must not shuffle the corpus:\n" + p)
  }

  test("JDBC relation pushes the predicate into the database as SQL") {
    // S1: the reference's pooled Postgres read behind spark.read.jdbc
    // (Queries14.jdbc_pushdown_roundtrip over embedded Derby). The
    // filter must reach the JDBCRelation scan as a pushed filter —
    // shipped to the database in the generated WHERE clause — not run
    // as a post-scan Spark filter over a full-table read.
    val p = plan("jdbc_pushdown_roundtrip")
    assert(p.contains("JDBCRelation"), p)
    assert("(?i)PushedFilters: \\[[^\\]]*n_regionkey".r.findFirstIn(p).isDefined,
      "regionkey predicate not pushed to the database:\n" + p)
    // the scale path: a partitioned parallel read — numPartitions
    // stride predicates land on the same relation, so a cluster pulls
    // the table over N concurrent connections, not one
    val url = s"jdbc:derby:${graft.sources.Staging.path(dir, "derbydb")}"
    val par = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "NATION")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("partitionColumn", "n_nationkey")
      .option("lowerBound", "0").option("upperBound", "25")
      .option("numPartitions", "4")
      .load()
      .filter(col("n_regionkey") >= 2)
    assert(par.rdd.getNumPartitions == 4,
      s"expected 4 JDBC scan partitions, got ${par.rdd.getNumPartitions}")
    assert(par.count() ==
      SparkEntry.queries("jdbc_pushdown_roundtrip")(spark, dir).count())
  }

  test("CUBE and GROUPING SETS plan as ONE Expand + aggregate, not a pass per level") {
    for (name <- Seq("a_cube_totals", "a_grouping_sets")) {
      val p = plan(name).split("== Initial Plan ==")(0)
      assert("Expand".r.findAllIn(p).length == 1, s"$name:\n$p")
      // one scan feeds the Expand — multi-level aggregation must not
      // re-read the table per grouping set
      assert("Scan parquet".r.findAllIn(p).length == 1, s"$name:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"$name — expected the single aggregate shuffle:\n$p")
    }
  }

  test("incremental LSH joins the delta side only — no base-base candidate work") {
    // the O(delta) claim of minhashLshDelta: one side of the band
    // self-join must be filtered to delta rows (nw) BEFORE the join,
    // so base-base candidates are never generated
    val full = plan("dd_minhash_delta")
    val p = full.split("== Initial Plan ==")(0)
    val nwFilter = "(?i)filter[^\\n]*\\bnw#".r.findFirstIn(p)
    assert(nwFilter.isDefined, "delta-side nw prefilter missing:\n" + p)
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // the 100 TB lever Spark offers beyond static pushdown: a bloom
    // filter built from the selective dim side at runtime is injected
    // into the fact scan, so shuffle input shrinks before the join.
    // Catalyst only injects it when the fact side shuffles (SMJ/SHJ) —
    // broadcast joins already skip the shuffle — so the dim side is
    // made non-broadcastable for the audit.
    val prev = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    // production default is 10GB of fact-side scan before the filter
    // pays for itself; the sf0.001 audit fixture is tiny, so drop the
    // floor to observe the injection itself
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = graft.sources.Tables.read(spark, dir, "lineitem")
      val ord = graft.sources.Tables.read(spark, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("l_returnflag").agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter"),
        "runtime bloom filter not injected:\n" + p)
    } finally {
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("cdc apply: aggregate argmax + anti join, no window over the feed") {
    val full = plan("lake_cdc_apply")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), "CDC latest-row must be an aggregate, not a window:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("boilerplate removal: frequency filter joins as anti equi-join") {
    val full = plan("txt_boilerplate_removal")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("scd2: both windows run in one per-key sort, no global window") {
    val full = plan("lake_scd2")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("Window"), p)
    // both lag-collapse and lead-close partition by the key — a global
    // (unpartitioned) window would print an empty partition spec
    assert(!p.contains("Window [") || !p.contains("windowspecdefinition()"), p)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"SCD2 should shuffle the feed once, saw $exchanges:\n$p")
  }

  test("triangle count: data joins hash, nested loops only stitch 1-row counts") {
    // AQE's toString repeats nodes under "== Initial Plan ==" — count
    // in the final section only
    val full = plan("g_triangles")
    val p = full.split("== Initial Plan ==")(0)
    // the only non-equi joins allowed are the two crossJoins stitching
    // the three single-row count aggregates into the result row
    val nested = "BroadcastNestedLoopJoin".r.findAllIn(p).length +
      "CartesianProduct".r.findAllIn(p).length
    assert(nested <= 2, s"unexpected nested-loop join over data:\n$p")
    // the wedge/degree/closing joins run as equi-joins (they sit inside
    // the persisted subplans, so look at the whole tree)
    assert(full.contains("HashJoin") || full.contains("SortMergeJoin"), full)
  }

  test("funnel: sequential min-time chain is keyed equi-joins, no windows") {
    val full = plan("funnel_conversion")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), "funnel should need no window:\n" + p)
    // step joins key on the entity; the only nested-loop joins allowed
    // would stitch 1-row aggregates (here: none — explode over the
    // single-row count frame)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Generate explode"), "step rows should explode from one aggregate:\n" + p)
  }

  test("bm25 scoring is scan-local: broadcast stats, no shuffle join, top-k merge") {
    val full = plan("txt_bm25_topk")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), "stats must broadcast, not shuffle:\n" + p)
    assert(!p.contains("ShuffledHashJoin"), p)
  }

  test("anomaly z-score: one shuffle, both rolling sums in one per-key sort") {
    val full = plan("ts_anomaly")
    val p = full.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"should shuffle the feed once, saw $exchanges:\n$p")
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows <= 1, s"rolling sums should share one Window node, saw $windows:\n$p")
  }

  test("rarity score: per-doc tf collapse precedes the vocabulary join") {
    val full = plan("txt_rarity_score")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    // the occurrence explode must aggregate to (doc, tok, tf) before
    // joining token counts — visible as a partial_count under the join
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), "no window needed:\n" + p)
  }

  test("link prediction: 2-hop expansion and anti-join are all equi-joins") {
    val full = plan("g_link_predict")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "every join keys on order/vertex — no nested loop:\n" + p)
    assert(p.contains("LeftAnti"), "direct edges must anti-join away:\n" + p)
    assert(!p.contains("Window"), "no window needed:\n" + p)
  }

  test("rfm: the fact table only meets hash aggregates; thresholds broadcast") {
    val full = plan("a_rfm_segments")
    val p = full.split("== Initial Plan ==")(0)
    // quartiles come from the frequency-table kernel over the
    // per-customer aggregate; raw orders are never globally sorted
    assert(!p.contains("SortMergeJoin"), "threshold joins must broadcast:\n" + p)
    assert(p.contains("HashAggregate"), p)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    val cart = "CartesianProduct".r.findAllIn(p).length
    // the only loop joins stitch 1-row frames: max-date into the two
    // rfm instantiations + the single pivoted threshold row
    assert(cart == 0, "no cartesian over data:\n" + p)
    assert(bnlj <= 3, s"only 1-row stitches allowed, saw $bnlj:\n$p")
  }

  test("association rules: basket self-join keys on the order") {
    val full = plan("a_assoc_rules")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"),
      "rule ranking is a top-k merge, not a global sort:\n" + p)
    assert(!p.contains("Window"), "no window needed:\n" + p)
  }

  test("ewma: one shuffle, all lag terms in one per-key window") {
    val full = plan("ts_ewma")
    val p = full.split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1, s"one shuffle on the series key, saw $exchanges:\n$p")
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows <= 1, s"all 7 lags must share one Window node, saw $windows:\n$p")
  }

  test("priority sampling plans as a top-k merge, not a global sort") {
    val full = plan("samp_priority_weighted")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), "no global sort:\n" + p)
  }

  test("asof attribution: candidates collapse in an argmin aggregate, not a rank window") {
    val full = plan("j5_asof_attribution")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), "min_by aggregate, no candidate window:\n" + p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("session paths: journey ranking is a top-k merge; one session window") {
    val full = plan("r8_session_path")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), p)
    // lag → boundary-sum → session aggregate all ride ONE user-key
    // exchange (the two Window nodes are sequential by data
    // dependency but share the same sort); the path count adds one.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"user shuffle + path-count shuffle only, saw $exchanges:\n$p")
    val sorts = "Sort \\[".r.findAllIn(p).length
    assert(sorts <= 1, s"both windows must share one per-user sort, saw $sorts:\n$p")
  }

  test("gini: only the value-frequency table meets the cumulative window") {
    val full = plan("a_gini")
    val p = full.split("== Initial Plan ==")(0)
    // the single unpartitioned window must sit ABOVE the first
    // aggregate (it sees |distinct prices| rows, not raw orders)
    val winIdx = p.indexOf("Window [")
    val aggIdx = p.indexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx >= 0, p)
    assert(p.substring(winIdx).contains("HashAggregate"),
      "the frequency aggregate must feed the window:\n" + p)
  }

  test("dau/wau: the range join broadcasts the calendar spine, not the data") {
    val full = plan("w_dau_wau")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    // the trailing-window join is a nested loop ONLY against the
    // broadcast day spine (calendar-bounded); anything else must hash
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"one spine loop allowed, saw $bnlj:\n$p")
    assert(p.contains("BroadcastExchange"), "spine must broadcast:\n" + p)
  }

  test("pareto share: the cumulative walk runs over tiers, raw events one aggregate") {
    val full = plan("a_pareto_share")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("TakeOrderedAndProject"), "crossing pick is top-1:\n" + p)
    // events → per-user counts → tiers: two hash aggregates before
    // any window; the window itself sees the tier table
    val winIdx = p.indexOf("Window [")
    assert(winIdx >= 0 && p.substring(winIdx).contains("HashAggregate"),
      "tier aggregate must feed the window:\n" + p)
  }

  test("curation report: every per-language metric comes from ONE corpus scan") {
    val full = plan("pipeline_curation_report")
    val p = full.split("== Initial Plan ==")(0)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"one documents scan expected, saw $scans:\n$p")
    assert(!p.contains("Window"), "counter idioms need no window:\n" + p)
  }

  test("hhi: two keyed aggregates, no window, no loop join") {
    val full = plan("a_hhi")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("random projection is scan-local: no shuffle, no UDF, codegen'd HOFs") {
    val full = plan("vec_random_projection")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("Exchange"), "projection must not shuffle:\n" + p)
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"), p)
  }

  test("perceptual near-dup: candidates come from a band equi-join, no all-pairs") {
    val full = plan("mm_phash_neardup")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), "banding must prevent all-pairs:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cohort retention: the window runs over the matrix, never events") {
    val full = plan("w_cohort_retention")
    val p = full.split("== Initial Plan ==")(0)
    // events meet two hash aggregates and one equi-join on user;
    // the single Window node sees the cohort x week matrix
    val windows = "Window \\[".r.findAllIn(p).length
    assert(windows == 1, s"one matrix-sized window expected, saw $windows:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("k-hop path expand: every hop is an equi-join, never a nested loop") {
    val full = plan("g_khop_paths")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), "path expand must equi-join:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("multi-key fuzzy join: blocked equi-joins only, no all-pairs residual") {
    val full = plan("f_fuzzy_match_multi")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"),
      "both families must block via equi-join:\n" + p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pigeonhole link blocking: compound-key equi-joins, no nested loop") {
    val full = plan("f_link_score")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("temperature mixture: rates broadcast to the gate, no sort-merge join") {
    val full = plan("samp_temperature")
    val p = full.split("== Initial Plan ==")(0)
    // the strata-sized rate table must reach the document filter as a
    // broadcast — a shuffled join here would re-shuffle the corpus
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("PIT scd2 join: keyed equi-join with residual interval, no range blow-up") {
    val full = plan("j11_pit_scd2")
    val p = full.split("== Initial Plan ==")(0)
    // the interval predicate must ride the key join as a residual —
    // a nested-loop/cartesian here is the classic PIT scale bug
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("sorted PIT join: no join operator at all — union, one sort, one window") {
    val full = plan("j11_pit_sorted")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), "the sorted form must not join:\n" + p)
    assert(p.contains("Window"), p)
  }

  test("chi2 drift: one scan, keyed counts, totals broadcast back") {
    val full = plan("dq_chi2_drift")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("HashAggregate"), p)
    // the 1-row totals must come back as a broadcast, never shuffle
    // the category table
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pair packing: one rank window + complement equi-join, no cartesian") {
    val full = plan("pack_bestfit")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("deterministic walks: every hop is an equi-join on the node id") {
    val full = plan("g_random_walk")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("centroid dots: the self-join runs on the compressed sum table") {
    val full = plan("vec_centroid_dots")
    val p = full.split("== Initial Plan ==")(0)
    // pairwise arithmetic joins (label, dim) sums on pos — an equi-join;
    // the raw embedding table must never cartesian with itself
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("soft dedup: cluster sizes meet rows in ONE exchange pair, no window") {
    val full = plan("samp_soft_dedup")
    val p = full.split("== Initial Plan ==")(0)
    // count-aggregate + equi-join shape; a count window over the
    // cluster key would sort-shuffle the whole corpus instead
    assert(!p.contains("Window"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("bloom prune: bitmap lookups broadcast; the probe side never sort-merges") {
    val full = plan("j12_bloom_prune")
    val p = full.split("== Initial Plan ==")(0)
    // two word-indexed bitmap lookups + the truth join — all small
    // sides broadcast against the probe scan
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bpe learn: the merge loop never sort-merge-joins — argmax rows broadcast") {
    val full = plan("txt_bpe_learn")
    val p = full.split("== Initial Plan ==")(0)
    // each round's 1-row argmax meets the 50-row vocab as a broadcast
    // nested loop (the RIGHT plan for 1xN); the corpus-sized work is
    // the single token-count aggregate
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("theil-sen: the pair join runs on the day-compressed table, post-aggregate") {
    val full = plan("ts_theilsen")
    val p = full.split("== Initial Plan ==")(0)
    // daily collapse (HashAggregate) must appear; the join is an
    // equi-join on the priority key of that compressed relation
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pareto frontier: price tiers collapse before the cummax window") {
    val full = plan("w_pareto_frontier")
    val p = full.split("== Initial Plan ==")(0)
    // value-frequency compression first, then ONE window — no
    // dominance self-join anywhere
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hamming retrieval: one long per doc, probes broadcast, top-k only") {
    val full = plan("vec_hamming_topk")
    val p = full.split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("keyphrase: one scan feeds islands; word stats join as equi-joins") {
    val full = plan("txt_keyphrase")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("path binding rides the chain plan: equi-joins only, no extra shuffle") {
    // the nodes/relationships arrays are projections over hop columns
    // the union-of-chains already carries — the plan must stay the
    // unbound pattern's join chains (equi-joins), never a nested loop
    val full = plan("cy_path_var")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the multi-distinct RETURN aggregate plans as Expand +
    // SortAggregate; either aggregate form is the wanted plan
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("shortestPath representative is one hash aggregate over the expansion") {
    val full = plan("cy_shortest_proj")
    val p = full.split("== Initial Plan ==")(0)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the min(struct(depth, nodes, rels)) representative collapse
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }
}
