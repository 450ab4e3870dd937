package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId
import org.apache.spark.sql.types.StructType

/** The one `private[sql]` door the engine needs: build a DataFrame
  * over a plan Spark's public API cannot express. Two uses, both the
  * same mechanism `Dataset.checkpoint` itself uses to re-wrap its
  * materialized RDD; nothing else in the internal API surface is
  * touched:
  *
  *  - [[internalCreateDataFrame]] wraps an `RDD[InternalRow]` back into
  *    a DataFrame WITHOUT a Row-encode/decode round trip. Used by the
  *    bucket-pruned standing-store probes ([[graft.cypher.BucketedFrame]]):
  *    a probe takes a materialized (localCheckpoint'd) frame's internal
  *    RDD, prunes it to the key buckets a delta can possibly touch
  *    (`PartitionPruningRDD` — public DeveloperApi), and re-enters SQL
  *    here.
  *  - [[withMeasuredSize]] gives a checkpointed frame the size of its
  *    blocks as its plan statistics. A checkpoint otherwise inherits
  *    the estimate of the plan it materialized — for a folded
  *    [[graft.cypher.GraphStore]] family, the product estimate of the
  *    stacked left-outer joins, which reaches Long.MaxValue (8 EiB)
  *    after a few writes and plans shuffles and runtime bloom filters
  *    around a table of a few MB. The block sizes come from the block
  *    manager master, which holds them once the checkpoint job ends
  *    (`getRDDStorageInfo` reads a listener-fed store that may lag).
  */
object SqlShim {
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** `df` over the same checkpointed RDD, its plan statistics set to
    * the bytes the RDD's blocks hold in memory and on disk; a frame
    * that is not a held checkpoint is returned as it is. */
  def withMeasuredSize(df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case r: LogicalRDD =>
        val master = SparkEnv.get.blockManager.master
        val bytes = r.rdd.partitions.indices.iterator
          .flatMap(p => master.getBlockStatus(RDDBlockId(r.rdd.id, p),
            askStorageEndpoints = false).valuesIterator)
          .map(b => b.memSize + b.diskSize).sum
        if (bytes <= 0) df
        else {
          val s = df.sparkSession.asInstanceOf[classic.SparkSession]
          classic.Dataset.ofRows(s,
            r.copy()(s, Some(Statistics(sizeInBytes = bytes)), None))
        }
      case _ => df
    }
}
