package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/**
 * Storage hygiene for `localCheckpoint()`ed frames inside iterative
 * fixpoint loops (pageRank/PPR, stationaryFixpoint, k-core peeling,
 * label propagation, core numbers, weighted paths): each round
 * checkpoints a fresh state frame, and `spark.catalog.clearCache()`
 * does NOT free checkpoint blocks — they live as persisted RDDs
 * outside the cache manager, so without an explicit unpersist a
 * 25-round loop holds 25 × |state| rows of executor storage until the
 * driver GCs the frame references (ADVICE r15). The loops call
 * [[free]] on round k−1's frame right after round k's delta action
 * materializes — at that point no later plan reads the old blocks
 * (lineage was truncated by the NEW checkpoint), so the unpersist is
 * safe and bounds loop storage to two live state frames.
 */
object Checkpoints {

  /** Unpersists the RDD blocks behind every `LogicalRDD` in `df`'s
    * analyzed plan — for a checkpointed frame (or a projection over
    * one) that is exactly its own truncated-lineage RDD. Each RDD is
    * unpersisted once, and not at all when already freed: a plan that
    * joins a frame with itself holds its RDD several times, and Spark
    * posts an unpersist event and logs a lineage warning per call.
    * Only call once NOTHING will read the frame again: a
    * localCheckpointed RDD cannot be recomputed after its blocks are
    * dropped. */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd
    }.distinctBy(_.id)
      .filter(_.getStorageLevel != StorageLevel.NONE)
      .foreach(_.unpersist(blocking = false))
}
