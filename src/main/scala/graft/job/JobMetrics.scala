package graft.job

import graft.sources.Readers
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/**
 * Progress/counter instrumentation (reference O10: recordsRead/
 * Written/Failed counters updated every progressUpdateFrequency
 * records, structured status log — CoreLibInterfaces.java:159-221,
 * workflowEngine-part1.java:283-303,407-441).
 *
 * Spark-first: a SparkListener aggregates task metrics per job group —
 * no per-row counter updates on the data path (a per-row callback is
 * exactly what a 100 TB engine cannot afford). Emission granularity is
 * per task completion, which at scale is finer than every 10k records
 * anyway.
 */
final class JobMetrics(spark: SparkSession) extends SparkListener {

  final case class Counters(recordsRead: AtomicLong = new AtomicLong,
                            bytesRead: AtomicLong = new AtomicLong,
                            recordsWritten: AtomicLong = new AtomicLong,
                            shuffleBytes: AtomicLong = new AtomicLong)

  private val byGroup = new ConcurrentHashMap[String, Counters]()
  // Listener events arrive on the bus thread, where the submitting
  // thread's job-group local property is invisible — capture the
  // group at job start and route per stage.
  private val stageToGroup = new ConcurrentHashMap[Int, String]()
  private val Uncounted = new String("uncounted") // a stage routing mark, never a group
  @volatile private var lastLog = 0L
  @volatile var progressLogIntervalMs: Long = 2000L

  spark.sparkContext.addSparkListener(this)

  /** Current counters for a job group (JobRunner's configKey). */
  def counters(group: String): Option[Counters] = Option(byGroup.get(group))

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    // the CSV scan-mode probe is one more pass over the source before
    // any row loads: counting it would inflate live progress
    val group =
      if (props.exists(_.getProperty(Readers.ProbeJobProperty) != null)) Uncounted
      else props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("default")
    j.stageIds.foreach(sid => stageToGroup.put(sid, group))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    stageToGroup.remove(sc.stageInfo.stageId) // bound the routing map

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val group = Option(stageToGroup.get(t.stageId)).getOrElse("default")
    if (group eq Uncounted) return
    val c = byGroup.computeIfAbsent(group, _ => Counters())
    val m = t.taskMetrics
    if (m != null) {
      c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      c.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      val now = System.currentTimeMillis()
      if (now - lastLog >= progressLogIntervalMs) {
        lastLog = now
        // Structured one-line status (the reference's Kibana JSON log
        // analog — etlcorelogback.xml:42-44).
        System.err.println(
          s"""{"logger":"GraftStatusUpdates","group":"$group","recordsRead":${c.recordsRead.get},""" +
            s""""bytesRead":${c.bytesRead.get},"recordsWritten":${c.recordsWritten.get}}""")
      }
    }
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)
}
