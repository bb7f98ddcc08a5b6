package graft.tools

import graft.{Bench, CacheDirs, GraftSession, Queries}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec
import scala.collection.mutable
import scala.util.control.NonFatal

/** The one dev-tool entry point: `runMain graft.tools.Dev <command>`.
  *
  *  - `time <n> <sfDir> <query...>`: per query, min / median / all of
  *    `n` runs (Bench's warm-up and noop-sink timing), the jobs, tasks,
  *    task time, CPU and GC of those runs, their top stages by run
  *    time, and the persisted RDDs and temp work dirs the runs left
  *    behind (both 0 when every run frees what it made); then
  *    TOTAL(min).
  *  - `explain <sfDir> [query...]`: runs each query, prints its final
  *    (post-AQE) formatted plan and its SCANS/REUSED/SMJ/BHJ counts.
  *  - `audit <window|scans|fragment> <sfDir> [query...]`: runs each
  *    query and prints `HIT <n> <query>` where the detector counts
  *    n > 0 in the final plan. `QUERY <name>` markers go to stderr, so
  *    Spark's own warnings between two markers (`WindowExec: No
  *    Partition Defined` from driver-side intermediate actions or
  *    micro-batch plans the final plan never shows) pin the query that
  *    emitted them; read with `2>&1 | grep -E "QUERY |WindowExec|HIT"`.
  *  - `scale <sfDir> [multiples...]`: the ScaleStress sections.
  *  - `count`: registered and oracle-backed query counts.
  *
  * No query list means the whole registry. The session is
  * `GraftSession.local` on SPARK_GRAFT_CPUS cores plus the `k=v;k=v`
  * overrides in SPARK_GRAFT_CONF, so a config experiment can be timed
  * on a focused subset without a full-bench round trip:
  *
  *   SPARK_GRAFT_CONF="spark.sql.adaptive.coalescePartitions.parallelismFirst=false" \
  *     sbt "runMain graft.tools.Dev time 3 <sfDir> <query> [query ...]"
  */
object Dev {
  private val usage = "usage: Dev time <n> <sfDir> <query...> | explain <sfDir> [query...] | " +
    "audit <window|scans|fragment> <sfDir> [query...] | scale <sfDir> [multiples...] | count"

  def main(args: Array[String]): Unit = {
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";")).filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val spark = GraftSession.local(GraftSession.envCpus, conf)
    try run(spark, args) finally spark.stop()
  }

  /** Runs one command on `spark`, which it never stops. */
  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "time" :: n :: sfDir :: names if names.nonEmpty => time(spark, n.toInt, sfDir, names)
    case "explain" :: sfDir :: names => explain(spark, sfDir, names)
    case "audit" :: name :: sfDir :: names => audit(spark, detector(name), sfDir, names)
    case "scale" :: sfDir :: ms =>
      ScaleStress.run(spark, sfDir, if (ms.isEmpty) Seq(1, 2, 5, 10) else ms.map(_.toInt))
    case "count" :: Nil =>
      val r = Queries.registry
      println(s"registered=${r.size} oracle=${r.count(_.oracle.isDefined)}")
    case _ => throw new IllegalArgumentException(usage)
  }

  private def queries(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    if (names.isEmpty) Queries.registry.map(q => q.name -> q.fn)
    else names.map(n => n -> Queries.queries.getOrElse(n,
      throw new IllegalArgumentException(s"no such query: $n")))

  private def time(spark: SparkSession, n: Int, sfDir: String, names: Seq[String]): Unit = {
    val qs = queries(names)
    Bench.warmUp(spark, sfDir)
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    try {
      val total = qs.map { case (name, fn) =>
        GraftSqlBridge.drainListeners(spark.sparkContext)
        stats.reset()
        val rdds = spark.sparkContext.getPersistentRDDs.keySet
        val dirs = CacheDirs.tempWorkDirs()
        val times = Seq.fill(n)(Bench.seconds(spark)(Bench.noop(fn(spark, sfDir))))
        GraftSqlBridge.drainListeners(spark.sparkContext)
        val sorted = times.sorted
        val median = (sorted((n - 1) / 2) + sorted(n / 2)) / 2 // mean of the middle two for even n
        println(f"[time] $name%-36s min ${times.min}%7.3f  median $median%7.3f  all ${times.map(t => f"$t%.2f").mkString(",")}")
        stats.report(n).foreach(l => println(s"[time]   $l"))
        println(s"[time]   left behind: persisted RDDs " +
          s"${(spark.sparkContext.getPersistentRDDs.keySet -- rdds).size}, " +
          s"temp work dirs ${(CacheDirs.tempWorkDirs() -- dirs).size}")
        times.min
      }.sum
      println(f"[time] TOTAL(min) $total%.3f over ${qs.size} queries")
    } finally spark.sparkContext.removeSparkListener(stats)
  }

  private def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    queries(names).foreach { case (name, fn) =>
      println(s"\n===================== $name =====================")
      try Bench.isolated(spark) {
        val df = fn(spark, sfDir)
        df.collect()
        println(df.queryExecution.explainString(FormattedMode))
        val plan = df.queryExecution.executedPlan
        println(Seq("SCANS" -> "FileScan parquet", "REUSED" -> "ReusedExchange",
            "SMJ" -> "SortMergeJoin", "BHJ" -> "BroadcastHashJoin")
          .map { case (k, frag) => s"$k=${fragment(frag)(plan)}" }.mkString(" "))
      } catch { case NonFatal(e) => println(s"ERR $name: ${e.getMessage}") }
    }

  private def audit(spark: SparkSession, detect: SparkPlan => Int, sfDir: String,
      names: Seq[String]): Unit = {
    queries(names).foreach { case (name, fn) =>
      System.err.println(s"QUERY $name")
      System.err.flush()
      try Bench.isolated(spark) {
        val df = fn(spark, sfDir)
        df.collect()
        val n = detect(df.queryExecution.executedPlan)
        if (n > 0) println(s"HIT $n $name")
      } catch { case NonFatal(e) => println(s"ERR $name: ${String.valueOf(e.getMessage).take(80)}") }
    }
    println("AUDIT DONE")
  }

  /** `audit` detectors: `window` counts unpartitioned windows; `scans`
    * counts the parquet scans of a plan that has 8 or more (a scan
    * hog), else 0; any other word counts the nodes it names. */
  def detector(name: String): SparkPlan => Int = name match {
    case "window" => unpartitionedWindows
    case "scans" => p => { val n = fragment("FileScan parquet")(p); if (n >= 8) n else 0 }
    case frag => fragment(frag)
  }

  /** WindowExec with an empty partitionSpec: one task sorts its whole input. */
  val unpartitionedWindows: SparkPlan => Int =
    p => nodes(p).count { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false }

  /** Nodes whose one-line description contains `frag`. */
  def fragment(frag: String): SparkPlan => Int = p => nodes(p).count(_.simpleString(25).contains(frag))

  /** Every node of an executed plan, through AQE plans, query stages and
    * subqueries (the first two are leaves to `children`). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p.children.flatMap(nodes)
  }) ++ p.subqueries.flatMap(nodes))

  /** Jobs, tasks, task time, CPU and GC since `reset()`, plus run time
    * per stage name. Read it after draining the listener bus. */
  private final class TaskStats extends SparkListener {
    private var jobs, tasks, taskMs, cpuMs, gcMs = 0L
    private val stages = mutable.Map.empty[String, Array[Long]] // name -> (stages, tasks, runMs)

    def reset(): Unit = synchronized {
      jobs = 0; tasks = 0; taskMs = 0; cpuMs = 0; gcMs = 0
      stages.clear()
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      if (t.taskInfo != null) { tasks += 1; taskMs += t.taskInfo.duration }
      if (t.taskMetrics != null) {
        cpuMs += t.taskMetrics.executorCpuTime / 1000000L
        gcMs += t.taskMetrics.jvmGCTime
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val a = stages.getOrElseUpdate(s.stageInfo.name.take(40), new Array[Long](3))
      a(0) += 1
      a(1) += s.stageInfo.numTasks
      if (s.stageInfo.taskMetrics != null) a(2) += s.stageInfo.taskMetrics.executorRunTime
    }
    def report(runs: Int): Seq[String] = synchronized {
      f"jobs=$jobs tasks=$tasks taskTime=${taskMs / 1e3}%.2fs cpu=${cpuMs / 1e3}%.2fs gc=${gcMs / 1e3}%.2fs over $runs run(s)" +:
        stages.toSeq.sortBy(-_._2(2)).take(5).map { case (k, v) =>
          f"stage $k%-40s n=${v(0)}%3d tasks=${v(1)}%5d runMs=${v(2)}%7d"
        }
    }
  }
}
