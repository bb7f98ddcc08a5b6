package graft

import graft.operators.{Dedup, Graphs}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** `GraftSession.withConf`: conf set in a scope stays in the scope,
  * the scope inherits the caller's session state, a frame it returns
  * plans under the caller's conf — and every loop operator runs its
  * whole loop inside its scope. */
class ConfScopeSpec extends SparkTestBase {
  import spark.implicits._

  private val aqe = "spark.sql.adaptive.enabled"
  private val parts = "spark.sql.shuffle.partitions"

  /** Every query execution of `caller` and of its scopes, in order. */
  private def recording[A](caller: SparkSession)(body: => A): (A, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    caller.listenerManager.register(l)
    try {
      val r = body
      GraftSqlBridge.drainListeners(caller.sparkContext)
      (r, seen.asScala.toSeq)
    } finally caller.listenerManager.unregister(l)
  }

  // each test runs in a scope: the loops' checkpoints are freed when it ends
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    graft.operators.Checkpoints.scoped(super.withFixture(test))

  test("a loop's jobs leave the caller's conf at the caller's values") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val want = Map(aqe -> spark.conf.get(aqe), parts -> spark.conf.get(parts))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(want.keys.map(k => k -> spark.conf.get(k)).toMap)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Dedup.clusters(pairs)
      GraftSqlBridge.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(seen.size > 1)
    seen.asScala.foreach(got => assert(got == want))
  }

  test("a scope sees the caller's runtime conf, functions and listeners") {
    val caller = spark.newSession()
    caller.conf.set(parts, "3")
    caller.udf.register("graft_scope_plus1", (x: Long) => x + 1)
    val ((p, v, scope), seen) = recording(caller) {
      GraftSession.withConf(caller, Map(aqe -> "false")) { s =>
        (s.conf.get(parts), s.sql("SELECT graft_scope_plus1(41L)").head().getLong(0), s)
      }
    }
    assert(p == "3")
    assert(v == 42L)
    assert(scope ne caller)
    assert(seen.exists(_.sparkSession eq scope), "caller's listener saw no scope query")
    assert(caller.conf.get(aqe) == "true")
  }

  test("a frame returned from a scope plans with AQE at the caller's partition count") {
    val caller = spark.newSession()
    caller.conf.set(parts, "5")
    val df = GraftSession.withConf(caller, Map(aqe -> "false", parts -> "2")) { s =>
      s.range(100).groupBy((col("id") % 7).as("k")).count()
    }
    assert(df.sparkSession eq caller)
    assert(df.collect().length == 7)
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        val widths = new AdaptiveSparkPlanHelper {}.collect(a.executedPlan) {
          case e: ShuffleExchangeExec => e.numPartitions
        }
        assert(widths == Seq(5), a.executedPlan.treeString)
      case other => fail(s"expected an adaptive plan, got\n$other")
    }
  }

  test("a scope whose body throws leaves the caller's conf unchanged") {
    val caller = spark.newSession()
    caller.conf.set(parts, "6")
    val before = caller.conf.getAll
    intercept[IllegalStateException] {
      GraftSession.withConf(caller, Map(aqe -> "false", parts -> "7")) { s =>
        s.range(10).count()
        throw new IllegalStateException("scope body failed")
      }
    }
    assert(caller.conf.getAll == before)
  }

  // small graph: every loop state is KB-sized, so each loop runs at
  // one partition (LoopOpt.loopPartitions floors at 1)
  private lazy val und = {
    val clique = for (i <- 0L to 4L; j <- i + 1 to 4L) yield (i, j)
    val path = (0L until 4L).map(i => (if (i == 0) 0L else 100L + i - 1, 100L + i))
    (clique ++ path ++ Seq((200L, 201L), (201L, 202L), (200L, 202L))).toDF("u", "v")
  }
  private lazy val directed = Graphs.symmetric(und).select(col("u").as("src"), col("v").as("dst"))
  private lazy val seeds = Seq(0L, 200L).toDF("node")

  private lazy val loops: Seq[(String, () => DataFrame)] = Seq(
    "kCore" -> (() => Graphs.kCore(und, 2)),
    "bfsHops" -> (() => Graphs.bfsHops(und, seeds, maxHops = 3)),
    "weightedHops" -> (() => Graphs.weightedHops(und.withColumn("w", lit(2L)), seeds, rounds = 3)),
    "coreNumbers" -> (() => Graphs.coreNumbers(und)),
    "ancestorRollup" -> (() => Graphs.ancestorRollup(
      Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 1L)).toDF("child", "parent"),
      Seq((1L, 10L), (2L, 1L), (3L, 2L), (4L, 4L), (5L, 8L)).toDF("node", "w"))),
    "reachSketch" -> (() => Graphs.reachSketch(Graphs.symmetric(und), 2)),
    "stationaryFixpoint" -> (() => Graphs.stationaryFixpoint(
      Seq(("A", "A", 3L), ("A", "B", 1L), ("B", "B", 1L), ("B", "A", 1L)).toDF("src", "dst", "n"),
      tolMicros = 50L, maxIters = 40)),
    "pageRank" -> (() => Graphs.pageRank(directed, tolMicros = 20000L)),
    "personalizedPageRank" -> (() => Graphs.personalizedPageRank(directed, seeds, tolMicros = 20000L)),
    "Dedup.clusters" -> (() => Dedup.clusters(und.toDF("doc_a", "doc_b"))))

  for ((name, run) <- loops) test(s"loop plan pins: $name runs its loop on its scope") {
    val (out, qes) = recording(spark)(run())
    val (pre, inScope) = qes.span(_.sparkSession eq spark)
    assert(pre.nonEmpty, "no pre-scope checkpoint")
    assert(inScope.nonEmpty, "no execution on the loop scope")
    val late = inScope.filter(_.sparkSession eq spark)
    assert(late.isEmpty, s"${late.size} in-loop executions ran on the caller's session:\n" +
      late.map(_.analyzed.treeString).mkString("\n"))
    inScope.foreach { qe =>
      assert(qe.sparkSession.conf.get(parts) == "1")
      val plan = qe.executedPlan
      val bad = plan.collect {
        case p: AdaptiveSparkPlanExec => p
        case p: BroadcastHashJoinExec => p
        case p: WholeStageCodegenExec => p
      }
      assert(bad.isEmpty, s"loop plan keeps ${bad.map(_.nodeName)}:\n$plan")
      val widths = plan.collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
      assert(widths.forall(_ == 1), s"exchange widths $widths:\n$plan")
    }
    assert(out.sparkSession eq spark)
    assert(out.count() > 0L)
  }
}
