package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * Mirrors the reference's single entry point (main_graph_topraq.py:84-340)
  * but as a SparkSession: UTC session time zone (the reference normalizes
  * everything to tz-offset datetimes, app/utils.py:34-57), AQE on for
  * runtime re-planning at scale, and shuffle partitions sized to the
  * local core count rather than the 200 default (on a real cluster this
  * is set per-job; AQE coalesces the rest).
  */
object GraftSession {

  /** Scale-adaptive AQE parallelism floor (optimization guide
    * §2.2/§2.5). AQE's parallelism-first coalescing targets
    * max(minPartitionSize, totalBytes/defaultParallelism); Spark's
    * 1 MiB default floor serializes byte-small but CPU-dense shuffle
    * stages (measured: the decimal-exact graph iterations at 2 tasks
    * on 32 cores, 2x the query wall).
    *
    * The r17 interleaved REPS=4 32-core A/B over {1m, 512k, 256k}
    * (14 probes, OPTIMIZATION_r17.md) found the floor is CLASS-split,
    * not one-value-fits-all: 256k wins the fixed-iteration
    * message-passing plans (g_hits 3.08 vs 5.42 s at 1m, g_pagerank
    * 4.37 vs 5.94, ts_theilsen 1.58 vs 1.93) and LOSES the many-round
    * CONVERGENCE loops whose per-round state is tiny (g_kcore_cert
    * 4.26 vs 3.02, g_mis 6.65 vs 5.40, g_kcore 4.31 vs 3.36) — over-
    * fanning multiplies (rounds x probe-jobs x fixed task cost), the
    * exact anti-scaling the r16 driver measured at 8-vs-32 cores. So
    * the global default stays 256k and the convergence-loop operators
    * scope themselves back to Spark's 1m default around their round
    * loops ([[withMinCoalesced]]); 512k was measured as a compromise
    * and won neither class (probe totals 52.0 / 53.9 / 52.2 s for
    * 1m / 512k / 256k). At cluster scale totalBytes/parallelism >>
    * 256k so the floor is inert. An embedder that wants another floor
    * sets the key on [[builder]] (a later `.config` wins); a Bench A/B
    * probe sets it through `SPARK_GRAFT_CONF`.
    */
  val minCoalescedDefault: String = "256k"

  /** Run `body` with the AQE coalescing floor temporarily set to
    * `value`, restoring the previous session value after. Used by the
    * many-round convergence-loop operators (k-core peel, MIS,
    * converged CC) to run their per-round probe + checkpoint actions
    * at Spark's 1m default while the session keeps the global
    * [[minCoalescedDefault]] — the 32-core A/B showed the two classes
    * want opposite floors (see above). The conf is session-global:
    * under concurrent queries the scope leaks to whatever else runs
    * during `body` (harness mains run strictly serially; concurrent
    * embedders should isolate with their own session).
    */
  def withMinCoalesced[T](spark: SparkSession, value: String)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val old = try Some(spark.conf.get(key)) catch { case _: Exception => None }
    spark.conf.set(key, value)
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Entries of Spark's JVM-wide generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100).
    * The cache is LRU and keyed by generated source, and a session
    * cycles through more distinct stage shapes than 100: measured on
    * the perfbench workloads with an unbounded cache (4-core host,
    * local[4]), one graph_analytics run compiles about 256 distinct
    * classes and one cypher_wire run 332. Each pass visits its shapes
    * in a cycle, so at 100 entries it evicts each class before reuse
    * and a warm pass recompiles nearly every stage (SCALE.md,
    * "Observed convergence rounds"). The cache splits its entries
    * over 4 LRU segments, so the constant leaves room above the larger
    * working set. A static conf: it must be set before the session
    * starts.
    */
  val CodegenCacheEntries = 512

  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE re-plan ON TOP of cached plans too: persisted frames
      // otherwise pin their shuffle partitioning, and a union of many
      // small cached branches schedules partitions-per-branch tiny
      // tasks (measured 2x wall on g_assembly at local[32])
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // scale-adaptive parallelism floor — rationale on
      // [[minCoalescedDefault]]
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        minCoalescedDefault)
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // permissive-cast semantics (null on bad parse), mirroring the
      // DuckDB oracle's TRY_CAST-based SQL
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the test-data generator writes timestamp[us] with
      // isAdjustedToUTC=false; without this, Spark 4 infers
      // TIMESTAMP_NTZ and unix_micros/watermarks reject the column.
      // Reading as TIMESTAMP under the UTC session zone yields the
      // same values DuckDB sees for the same bytes.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      // long-running sessions: broadcast/shuffle state is reclaimed by
      // ContextCleaner only after a driver GC — which a large driver
      // heap may not run for hours. Measured 2-40x query inflation
      // after ~160 back-to-back queries without it (SCALE.md); the
      // default interval is 30min.
      .config("spark.cleaner.periodicGC.interval", "5min")
      // reliable checkpoints (GRAFT_CHECKPOINT_DIR, see CacheScope) leave
      // files behind unless the ContextCleaner may delete them; local
      // checkpoints are unaffected
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session of the harness mains (Bench, Verify, StoreSoak,
    * WireSoak): `local[SPARK_GRAFT_CPUS]` (default 4) with as many
    * shuffle partitions, log level WARN.
    */
  def harness(): SparkSession = {
    val cpus = knob("SPARK_GRAFT_CPUS", sys.env.get("SPARK_GRAFT_CPUS"),
      default = 4, min = 1).toInt
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Isolation between two queries of a harness main, which runs them
    * strictly serially (see [[graft.operators.CacheScope.global]]).
    * Operators register every persist() and localCheckpoint() block
    * with the global CacheScope; releasing it drops them
    * deterministically (checkpoint RDD handles included).
    * Broadcast-exchange blocks and shuffle state are NOT cache blocks:
    * Spark's ContextCleaner reclaims them only after their driver-side
    * references are GC'd. A single-JVM loop running 80+ queries never
    * triggers that GC on its own, and the accumulated broadcasts thrash
    * the heap — measured 2-40x slowdowns on the late queries of a
    * reps=2 run. Nudging the collector here (outside the timed region)
    * is how ContextCleaner is designed to be driven, not a substitute
    * for the unpersist discipline.
    */
  private[graft] def isolate(): Unit = {
    graft.operators.CacheScope.global.release()
    System.gc()
  }

  /** An integer knob: `raw` is its value (an env var's or an
    * argument's), `None` means `default`. A value that is not an
    * integer `>= min` fails naming the knob, so a typo never reaches
    * Spark as `local[abc]` or a bare NumberFormatException.
    */
  def knob(name: String, raw: Option[String], default: Long, min: Long): Long =
    raw.fold(default) { s =>
      s.trim.toLongOption.filter(_ >= min).getOrElse(
        throw new IllegalArgumentException(
          s"$name must be an integer >= $min, got '$s'"))
    }
}
