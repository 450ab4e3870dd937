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
    * §2.2/§2.5), the ONE place the default and env knob live (r17,
    * advisor note: the value was previously repeated across 6 session
    * builders). AQE's parallelism-first coalescing targets
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
    * 256k so the floor is inert. Env-overridable
    * (`SPARK_GRAFT_MIN_COALESCED`) for A/B probes and cluster
    * overrides.
    */
  def minCoalescedDefault: String =
    sys.env.getOrElse("SPARK_GRAFT_MIN_COALESCED", "256k")

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
    * starts, so [[tune]] cannot apply it.
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
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply engine defaults to an externally-created session (Verify/Bench
    * create their own). Idempotent; safe on a running session.
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      minCoalescedDefault)
    spark
  }
}
