package graft

import org.apache.spark.sql.functions._

/**
 * Pins the fixpoint-loop storage contract (ADVICE r15): localCheckpoint
 * blocks are persisted RDDs that `spark.catalog.clearCache()` cannot
 * free, so the iterative loops unpersist round k−1 after round k's
 * delta action — loop storage stays bounded by ~2 live state frames
 * instead of growing with the round count.
 */
class CheckpointsSpec extends SparkTestBase {
  import spark.implicits._

  private def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  test("Checkpoints.free releases a localCheckpointed frame's blocks") {
    // the ContextCleaner may unpersist earlier suites' RDDs meanwhile:
    // count only the persisted RDDs of the frames under test
    def persistedOf(dfs: org.apache.spark.sql.DataFrame*): Int = {
      val ids = dfs.flatMap(_.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }).toSet
      spark.sparkContext.getPersistentRDDs.keys.count(ids)
    }
    val df = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
    assert(df.count() === 3L)
    assert(persistedOf(df) === 1)
    graft.operators.Checkpoints.free(df)
    assert(persistedOf(df) === 0)
    // a projection over a checkpointed frame frees the same RDD
    val df2 = Seq(4L, 5L).toDF("x").localCheckpoint()
    val proj = df2.select(col("x") * 2)
    assert(proj.count() === 2L)
    graft.operators.Checkpoints.free(proj)
    assert(persistedOf(df, df2) === 0)
  }

  test("Checkpoints.free unpersists each RDD once and skips freed ones") {
    // the ContextCleaner also posts unpersist events for collected RDDs
    // of earlier tests: count only the events for `df`'s own RDDs
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onUnpersistRDD(e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
        unpersisted.add(e.rddId)
    }
    def posted(df: org.apache.spark.sql.DataFrame): Int = {
      val ids = df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }.toSet
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
      unpersisted.clear()
      graft.operators.Checkpoints.free(df)
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
      unpersisted.toArray.count(id => ids.contains(id.asInstanceOf[Int]))
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val spine = Seq(1L, 2L, 3L).toDF("x").localCheckpoint()
      assert(posted(spine.join(spine, "x")) === 1) // two plan occurrences, one RDD
      val spine2 = Seq(4L, 5L).toDF("x").localCheckpoint()
      assert(posted(spine2) === 1)
      assert(posted(spine2.join(spine2, "x")) === 0) // already freed
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("pageRank loop storage stays bounded across rounds") {
    val before = persisted
    // a ring mixes slowly — guarantees multiple power rounds
    val n = 40L
    val edges = spark.range(n)
      .select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
    val pr = graft.operators.Graphs.pageRank(edges, tolMicros = 20000L, maxIters = 30)
    assert(pr.count() === n)
    // e + nodes + the final round's state may stay; prior rounds must not
    assert(persisted - before <= 4,
      s"expected <= 4 live checkpoints after the loop, got ${persisted - before}")
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("stationaryFixpoint carries src ∪ dst states (transient dst kept)") {
    // ADVICE r15 fixture: (A,B),(B,A),(B,C),(C,D) — one-pass restriction
    // keeps (A,B),(B,A),(B,C) and drops (C,D); C receives mass but has
    // no outgoing restricted edge. C must still appear in the output.
    val tr = Seq(("A", "B", 10L), ("B", "A", 10L), ("B", "C", 10L), ("C", "D", 5L))
      .toDF("src", "dst", "n")
    val pi = graft.operators.Graphs
      .stationaryFixpoint(tr, tolMicros = 300000L, maxIters = 12)
      .orderBy("state").collect()
    val states = pi.map(_.getString(0)).toSeq
    assert(states === Seq("A", "B", "C"), s"got $states")
    // B splits its mass between A and C every round: C's stationary row
    // must be strictly positive, A+B+C conserve nothing for D
    val byState = pi.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byState("C") > 0L)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
