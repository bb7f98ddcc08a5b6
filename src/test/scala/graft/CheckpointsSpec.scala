package graft

import org.apache.spark.sql.functions._

/**
 * Pins the checkpoint-ownership contract: localCheckpoint blocks are
 * persisted RDDs that `spark.catalog.clearCache()` cannot free, so
 * every checkpoint is owned by the innermost `Checkpoints.scoped`
 * block of its thread, which frees it on exit; and the iterative loops
 * unpersist round k−1 after round k's delta action (ADVICE r15) — loop
 * storage stays bounded by ~2 live state frames instead of growing
 * with the round count.
 */
class CheckpointsSpec extends SparkTestBase {
  import spark.implicits._
  import graft.operators.Checkpoints
  import graft.operators.Checkpoints.Checkpointed

  // each test runs in a scope: what it checkpoints is freed when it ends
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    Checkpoints.scoped(super.withFixture(test))

  /** The RDD ids of a frame's plan. */
  private def idsOf(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  private def isPersisted(df: org.apache.spark.sql.DataFrame): Boolean =
    idsOf(df).forall(spark.sparkContext.getPersistentRDDs.contains)

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
    // count only the RDDs created during this test: the ContextCleaner
    // and earlier suites move the global count
    val first = spark.sparkContext.emptyRDD[Int].id
    def persisted: Int = spark.sparkContext.getPersistentRDDs.keys.count(_ > first)
    // a ring mixes slowly — guarantees multiple power rounds
    val n = 40L
    val edges = spark.range(n)
      .select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
    val pr = graft.operators.Graphs.pageRank(edges, tolMicros = 20000L, maxIters = 30)
    assert(pr.count() === n)
    // e + nodes + ep + the final round's state may stay; prior rounds must not
    assert(persisted <= 4, s"expected <= 4 live checkpoints after the loop, got $persisted")
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
  }

  test("a scope frees only its own thread's checkpoints") {
    // the JobApi pool case: two jobs on one SparkContext, the first
    // ends while the second still reads its frame
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val checkpointed = new CountDownLatch(2)
    val firstExited = new CountDownLatch(1)
    @volatile var firstFrame: org.apache.spark.sql.DataFrame = null
    val first = new Thread(() => Checkpoints.scoped {
      firstFrame = spark.range(5).toDF("x").checkpointed()
      checkpointed.countDown()
      checkpointed.await(60, TimeUnit.SECONDS)
    })
    @volatile var secondRead = -1L
    @volatile var secondLive = false
    val second = new Thread(() => Checkpoints.scoped {
      val df = spark.range(7).toDF("x").checkpointed()
      checkpointed.countDown()
      firstExited.await(60, TimeUnit.SECONDS)
      secondLive = isPersisted(df)
      secondRead = df.count()
    })
    first.start(); second.start()
    first.join()
    assert(!isPersisted(firstFrame), "the first scope did not free its frame")
    firstExited.countDown()
    second.join()
    assert(secondLive, "the first thread's scope freed the second thread's frame")
    assert(secondRead === 7L)
  }

  test("a nested scope frees only its own checkpoints; no scope means no owner") {
    // a thread started inside a scope does not inherit it
    val unowned = Checkpoints.scoped {
      val ref = new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.DataFrame]()
      val t = new Thread(() => ref.set(spark.range(1).toDF("x").checkpointed()))
      t.start(); t.join()
      ref.get
    }
    val (outer, inner) = Checkpoints.scoped {
      val outer = Seq(2L).toDF("x").checkpointed()
      val inner = Checkpoints.scoped(Seq(3L).toDF("x").checkpointed())
      assert(!isPersisted(inner))
      assert(isPersisted(outer))
      (outer, inner)
    }
    assert(!isPersisted(outer))
    assert(isPersisted(unowned), "a checkpoint made with no scope open was freed")
    Checkpoints.free(unowned)
  }

  test("a frame freed inside a scope is not unpersisted again when it exits") {
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onUnpersistRDD(e: org.apache.spark.scheduler.SparkListenerUnpersistRDD): Unit =
        unpersisted.add(e.rddId)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val (state, next) = Checkpoints.scoped {
        val state = Seq(1L, 2L).toDF("x").checkpointed()
        val next = state.select(col("x") + 1).checkpointed()
        Checkpoints.free(state) // a loop's round k−1 rotation
        (state, next)
      }
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
      // both frames are still referenced here, so no GC-driven cleanup
      // of theirs can post an extra event
      val ids = idsOf(state) ++ idsOf(next)
      val events = unpersisted.toArray.map(_.asInstanceOf[Int]).filter(ids).toSeq
      assert(events.sorted === ids.toSeq.sorted, "one unpersist event per RDD")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a scope deletes the temp work dirs made inside it") {
    val dir = Checkpoints.scoped {
      val d = CacheDirs.tempWorkDir("graft_scope_spec_")
      java.nio.file.Files.writeString(d.resolve("f"), "x")
      d
    }
    assert(!java.nio.file.Files.exists(dir))
  }

  test("an ingestAnnBatch rebuild leaves no RDD persisted after its batch") {
    val first = spark.sparkContext.emptyRDD[Int].id
    val vecs = (0 until 30).map(i => (i.toLong, Seq(1.0 * (i % 3), 0.1 * (i % 5), 0.0, 1.0)))
      .toDF("vec_id", "e")
    val dest = s"${tmpDir("graft_ann_scope_")}/index"
    graft.streaming.EventStreams.ingestAnnBatch(spark, vecs, dest, 0L,
      vecCol = "e", nLists = 4, mode = "rebuild")
    val left = spark.sparkContext.getPersistentRDDs.keys.filter(_ > first)
    assert(left.isEmpty, s"the rebuild batch left persisted RDDs: $left")
  }
}
