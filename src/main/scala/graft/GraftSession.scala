package graft

import org.apache.spark.sql.SparkSession

/** The one session set-up behind every graft entry point: Bench,
  * Verify, JobRunner's CLI, the `Dev` tool and the test suites. */
object GraftSession {

  /** Cores for CLI sessions: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time (`Tables.normalizeEventTs` reads NTZ as UTC), no UI, and
    * log level WARN (`Dev audit window` reads Spark's `WindowExec`
    * warnings). `conf` entries are applied last, so `spark.master`
    * there replaces the local master. */
  def local(cpus: Int, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-index gates need the bucket-PRUNED scan; the auto
      // rule only weighs exchange reuse and would drop the pruning
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
