package graft

/** The shared test session is built by `GraftSession.local`, so its conf
  * is the conf every entry point runs under. */
class GraftSessionSpec extends SparkTestBase {
  test("the shared session pins UTC, bucket pruning and one shuffle partition per core") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled") == "false")
    assert(conf.get("spark.sql.shuffle.partitions") ==
      spark.sparkContext.defaultParallelism.toString)
  }
}
