package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** Lifecycle owner for blocks an operator materializes on the cluster:
  * `persist()`ed intermediates (LSH signatures, inverted indexes) and
  * checkpointed frames and RDDs (graph-iteration bases and states).
  * Operators that cache register here instead of calling `persist`
  * directly, and the caller releases the scope after its terminal
  * action — so a long-running job (100 TB session running many
  * queries) never accumulates squatting storage blocks, and the bench
  * needs no clearCache/System.gc crutch between queries.
  *
  * Operators default to [[CacheScope.global]]; pass a dedicated scope
  * to bound an individual query's cache lifetime.
  */
final class CacheScope {
  private val frames = ArrayBuffer.empty[Dataset[_]]
  private val rdds = ArrayBuffer.empty[RDD[_]]

  /** Persist `ds` and register it for release. */
  private[graft] def persist[T](ds: Dataset[T]): Dataset[T] = synchronized {
    frames += ds.persist()
    ds
  }

  /** `localCheckpoint` `ds` and register the checkpoint RDD for
    * release. Checkpoint blocks are NOT tracked by the cache manager —
    * without the RDD handle they are freed only when the ContextCleaner
    * notices the RDD got GC'd, which is why the bench previously needed
    * a System.gc() between queries.
    *
    * `localCheckpoint` stores blocks non-replicated on executors: an
    * executor loss mid-job makes the RDD unrecomputable (guide §5
    * names the tradeoff — fine on local[n], a real risk on a lossy
    * cluster). Setting `GRAFT_CHECKPOINT_DIR` switches every scope
    * checkpoint to a RELIABLE checkpoint under that path (HDFS/object
    * store on a cluster): survives executor loss, costs one write +
    * read-back of the frame. Inert locally (env unset → localCheckpoint
    * exactly as before). Reliable checkpoint files are reclaimed by
    * the ContextCleaner once the RDD handle released here is GC'd:
    * [[graft.GraftSession.builder]] sets
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (Spark's
    * default is false). A session built elsewhere must set it too, or
    * delete the directory between runs.
    */
  private[graft] def checkpoint[T](ds: Dataset[T]): Dataset[T] = synchronized {
    val cp = CacheScope.reliableDir match {
      case Some(dir) =>
        val sc = ds.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        ds.checkpoint()
      case None => ds.localCheckpoint()
    }
    cp.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }
      .foreach(rdds += _)
    cp
  }

  /** Checkpoint `rdd` the way [[checkpoint]] does a Dataset — local, or
    * reliable under `GRAFT_CHECKPOINT_DIR` — and register it for
    * release. The checkpoint is lazy: the next job that computes `rdd`
    * materializes it (a reliable one in one more job, which reads the
    * blocks persisted here instead of recomputing). Returns `rdd`.
    */
  private[graft] def checkpoint[T](rdd: RDD[T]): RDD[T] = synchronized {
    CacheScope.reliableDir match {
      case Some(dir) =>
        val sc = rdd.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      case None => rdd.localCheckpoint()
    }
    rdds += rdd
    rdd
  }

  /** Drop every block this scope owns (non-blocking). Idempotent. */
  def release(): Unit = synchronized {
    frames.foreach(_.unpersist(blocking = false))
    frames.clear()
    rdds.foreach(_.unpersist(blocking = false))
    rdds.clear()
  }
}

object CacheScope {
  /** `GRAFT_CHECKPOINT_DIR` → reliable checkpoints for every scope
    * checkpoint (see [[CacheScope.checkpoint]]); unset → local. */
  private[graft] def reliableDir: Option[String] =
    sys.env.get("GRAFT_CHECKPOINT_DIR").filter(_.nonEmpty)

  /** Process-wide default scope. Harness mains (Bench, Verify) release
    * it between queries — which is only sound because they run queries
    * STRICTLY SERIALLY: `release()` drops every block registered since
    * the last release, so under concurrent queries one caller's release
    * would unpersist blocks another query is still reading (correct
    * results — Spark recomputes — but the cache win silently vanishes).
    * Applications embedding the operators concurrently must pass a
    * dedicated scope per logical query (every operator takes a
    * `scope` parameter) and release that scope after the query's
    * terminal action.
    */
  val global = new CacheScope
}
