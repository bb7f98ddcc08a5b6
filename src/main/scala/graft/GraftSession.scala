package graft

import org.apache.spark.sql.{Dataset, GraftSqlBridge, SparkSession}

/** The one session set-up behind every graft entry point: Bench,
  * Verify, JobRunner's CLI, the `Dev` tool and the test suites. */
object GraftSession {

  /** Cores for CLI sessions: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC session
    * time (`Tables.normalizeEventTs` reads NTZ as UTC), parquet
    * `TIMESTAMP(NANOS)` columns read as LongType (the nanos-int64
    * `events.ts` vintage, which `normalizeEventTs` converts), no UI, and
    * log level WARN (`Dev audit window` reads Spark's `WindowExec`
    * warnings). `conf` entries are applied last, so `spark.master`
    * there replaces the local master. */
  def local(cpus: Int, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // bucketed-index gates need the bucket-PRUNED scan; the auto
      // rule only weighs exchange reuse and would drop the pruning
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `body` on a clone of `spark` with `kv` set on the clone
    * only, so no query planned on `spark` meanwhile (another job on a
    * shared session, a streaming micro-batch) sees the scope's conf,
    * and nothing needs restoring when `body` ends or throws. The clone
    * keeps `spark`'s runtime conf, registered functions and query
    * execution listeners. A Dataset result is rebound to `spark`, so
    * its lazy tail plans under the caller's conf. Frames `body` reads
    * from outside must be rebound to the clone first
    * ([[GraftSqlBridge.rebind]]): an action plans under the conf of
    * the session its frame belongs to. */
  def withConf[A](spark: SparkSession, kv: Map[String, String])(body: SparkSession => A): A = {
    val scope = GraftSqlBridge.cloneSession(spark)
    kv.foreach { case (k, v) => scope.conf.set(k, v) }
    body(scope) match {
      case ds: Dataset[_] => GraftSqlBridge.rebind(spark, ds).asInstanceOf[A]
      case r => r
    }
  }
}
