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
    * stages onto a few tasks. The r17 interleaved 32-core A/B over
    * {1m, 512k, 256k} (OPTIMIZATION_r17.md) found 256k best for the
    * byte-small plans that still run through AQE, e.g. ts_theilsen
    * (1.58 s at 256k vs 1.93 s at 1m). The graph loops it also timed
    * no longer plan through AQE: their rounds run as RDD supersteps on
    * `spark.sql.shuffle.partitions` partitions (see
    * [[graft.operators.GraphOps]]), so no operator scopes the floor.
    * At cluster scale totalBytes/parallelism >> 256k and the floor is
    * inert. An embedder that wants another floor sets the key on
    * [[builder]] (a later `.config` wins); a Bench A/B probe sets it
    * through `SPARK_GRAFT_CONF`.
    */
  val minCoalescedDefault: String = "256k"

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
