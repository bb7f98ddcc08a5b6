package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Physical-plan hygiene for ITERATIVE fixpoint loops (pageRank/PPR,
 * label propagation, stationary fixpoint, k-core, BFS frontiers):
 * every round re-plans and re-executes a small join/aggregate cycle
 * over checkpointed state, so the loop's wall clock is dominated by
 * per-round FIXED costs, not data — measured at bench scale (sf0.1):
 * pageRank spent 16 s on 25 rounds over a 7,146-edge graph, 180
 * driver jobs, 57 s of task wall for 16 s of task CPU. Two fixes,
 * both scale-adaptive rather than tuned to the bench box:
 *
 *  - [[loopPartitions]]: derive the loop's shuffle-partition count
 *    from the MEASURED size of the checkpointed state (the stats a
 *    localCheckpoint makes exact), targeting the guide's 32 MB+ per
 *    partition (§2.2/§2.6) with the session's own
 *    `spark.sql.shuffle.partitions` as the ceiling — a 100 TB state
 *    keeps full parallelism, a KB-sized bench state stops paying 32
 *    task launches per tiny stage.
 *  - [[withLoopConf]]: run the loop body with that partition count
 *    and with broadcast-join auto-conversion OFF (both the planner's
 *    and AQE's thresholds), on a session scope
 *    ([[graft.GraftSession.withConf]]) — the caller's session, and
 *    every query other threads plan on it, keep their own conf.
 *    Inside a loop every broadcast is a per-round driver collect +
 *    torrent rebuild of state that changes every round — the
 *    co-partitioned sort-merge join over the checkpointed frames
 *    (partitioning survives `localCheckpoint`) reuses the standing
 *    layout instead, which is also the only plan that survives a
 *    data-sized state at 100 TB (broadcasting the rank table is a
 *    driver OOM there; guide §3.1/§5).
 */
object LoopOpt {

  /** Per-partition byte target for loop state (guide §2.2: partitions
    * in the tens-to-hundreds of MB beat thousands of KB-sized ones). */
  val BytesPerPartition: Long = 32L * 1024 * 1024

  /** The MEASURED storage size of an (eagerly) checkpointed frame:
    * the block-manager bytes of every LogicalRDD in its plan. The
    * optimizer's sizeInBytes is useless here — Dataset.localCheckpoint
    * carries the ORIGINATING plan's estimate through (measured: 6 TB
    * claimed for a 7,146-row materialized edge list), so loops sized
    * from it never adapt. Falls back to Long.MaxValue (= keep the
    * session's full parallelism) when nothing is materialized. */
  def statSize(df: DataFrame): Long = {
    val ids = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet
    if (ids.isEmpty) return Long.MaxValue
    val infos = df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id))
    if (infos.isEmpty) Long.MaxValue
    else infos.map(i => i.memSize + i.diskSize).sum
  }

  /** Partition count for a loop over `bytes` of standing state:
    * ceil(bytes / 32 MB) clamped to [1, spark.sql.shuffle.partitions]. */
  def loopPartitions(spark: SparkSession, bytes: Long): Int = {
    val ceil = spark.sessionState.conf.numShufflePartitions
    val want = math.max(1L, (bytes + BytesPerPartition - 1) / BytesPerPartition)
    math.min(ceil.toLong, want).toInt
  }

  /** Runs `body` on a session scope ([[graft.GraftSession.withConf]])
    * with the loop conf: shuffle partitions = [[loopPartitions]] of
    * `state`'s measured size, broadcast auto-conversion off. `body`
    * gets `state` rebound to the scope and the partition count; any
    * other outer frame it reads must be rebound to the scope too
    * (`GraftSqlBridge.rebind(state.sparkSession, df)`), or its actions
    * plan under the caller's conf. A DataFrame result comes back bound
    * to the caller's session. */
  def withLoopConf[A](state: DataFrame)(body: (DataFrame, Int) => A): A = {
    val nP = loopPartitions(state.sparkSession, statSize(state))
    graft.GraftSession.withConf(state.sparkSession, Map(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.shuffle.partitions" -> nP.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      // AQE has nothing left to do inside the loop (partitions already
      // sized from the measured state, joins co-partitioned so there is
      // no shuffle to re-plan or skew-split) — but it still submits
      // every exchange as its own stage job: measured 5 driver jobs per
      // pageRank round vs 1 without it, and the loop wall is pure
      // driver-job latency at bench scale. Off inside the loop only.
      "spark.sql.adaptive.enabled" -> "false")) { s =>
      body(org.apache.spark.sql.GraftSqlBridge.rebind(s, state), nP)
    }
  }
}
