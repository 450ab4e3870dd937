package graft
import org.apache.spark.sql.SparkSession

/** Single-query bench harness for iterating on one operator:
  * `runMain graft.BenchOne <queryName> [reps]`. Same session config as
  * [[Bench]]; prints per-rep seconds so warm-up cost is visible.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    // resolve the name before any session starts: an unknown one
    // fails fast with ExplainDump's message and a non-zero exit
    val fn = SparkEntry.benchQueries.get(name)
      .orElse(SparkEntry.queries.get(name))
      .getOrElse {
        System.err.println(s"[bench-one] no such query: $name")
        sys.exit(2)
      }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the test-data generator writes timestamp[us] with
      // isAdjustedToUTC=false; without this, Spark 4 infers
      // TIMESTAMP_NTZ and unix_micros/watermarks reject the column.
      // Reading as TIMESTAMP under the UTC session zone yields the
      // same values DuckDB sees for the same bytes.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // let AQE re-plan ON TOP of cached plans too: persisted frames
      // otherwise pin their shuffle partitioning, and a union of many
      // small cached branches schedules partitions-per-branch tiny
      // tasks (measured 2x wall on g_assembly at local[32])
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // scale-adaptive parallelism floor — see GraftSession.minCoalescedDefault
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        GraftSession.minCoalescedDefault)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CONF="k=v;k=v" → runtime conf overrides for A/B runs
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k, v)
        case Array("") | Array() => // tolerate empty segments (trailing ;)
        case other => sys.error(s"SPARK_GRAFT_CONF segment not k=v: '$kv'")
      }
    })
    // same table pre-warm as the full Bench, so rep-1 timings are
    // comparable (file listing + footer reads + scan codegen paid here)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => graft.sources.Tables.read(spark, sfDir, t).count())
    // SPARK_GRAFT_STAGES=1 → dump the slowest stages of the last rep
    // (wall duration + summed task time + task count), for finding
    // which part of a multi-stage query dominates
    val stages = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Int, Long, Long)]
    if (sys.env.get("SPARK_GRAFT_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val wall = (for (a <- si.submissionTime; b <- si.completionTime)
              yield b - a).getOrElse(0L)
            stages.synchronized {
              stages += ((si.stageId, si.name.takeWhile(_ != '\n').take(80),
                si.numTasks, wall, si.taskMetrics.executorRunTime))
            }
          }
        })
    // listener events arrive on the async bus; give stragglers a beat
    // before clearing for the last rep / dumping at the end, so the
    // dump neither misses late completions nor blends reps
    def settleBus(): Unit = Thread.sleep(300)
    (1 to reps).foreach { i =>
      if (i == reps) { settleBus(); stages.synchronized(stages.clear()) }
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[bench-one] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // same inter-rep isolation as Bench: deterministic unpersist of
      // operator-registered blocks, then a GC nudge so ContextCleaner
      // reclaims broadcast/shuffle state (otherwise reps accumulate)
      graft.operators.CacheScope.global.release()
      System.gc()
    }
    settleBus()
    stages.synchronized {
      stages.sortBy(-_._4).take(15).foreach { case (id, n, t, wall, run) =>
        println(f"[stage] $id%5d wall=${wall / 1e3}%6.2fs taskSum=${run / 1e3}%7.2fs tasks=$t%4d  $n")
      }
    }
    spark.stop()
  }
}
