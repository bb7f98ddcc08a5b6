package graft

import graft.tools.Dev
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `Dev` subcommands and detectors, driven on the shared session. */
class DevSpec extends SparkTestBase {
  private def out(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf)(Dev.run(spark, args.toArray))
    buf.toString("UTF-8")
  }

  test("time prints min/median and the jobs/tasks line per query, then TOTAL(min)") {
    val s = out("time", "1", sf, "q5_nation_revenue")
    assert(s.linesIterator.exists(l => l.contains("q5_nation_revenue") &&
      l.contains(" min ") && l.contains(" median ")), s)
    assert(s.linesIterator.exists(l => l.contains("jobs=") && l.contains("tasks=")), s)
    assert(s.contains("TOTAL(min)"), s)
  }

  test("explain prints the final plan and the SCANS/REUSED/SMJ/BHJ counts") {
    val s = out("explain", sf, "q5_nation_revenue")
    assert(s.contains("AdaptiveSparkPlan"), s)
    assert("SCANS=[1-9]".r.findFirstIn(s).isDefined, s)
    assert(s.contains("REUSED=") && s.contains("SMJ=") && s.contains("BHJ="), s)
  }

  test("count prints registered and oracle-backed counts") {
    assert(out("count").trim ==
      s"registered=${Queries.registry.size} oracle=${Queries.registry.count(_.oracle.isDefined)}")
  }

  test("the window detector counts an unpartitioned row_number") {
    val df = spark.range(10).withColumn("rn", row_number().over(Window.orderBy(col("id").desc)))
    df.collect()
    assert(Dev.detector("window")(df.queryExecution.executedPlan) == 1)
    val parted = spark.range(10)
      .withColumn("rn", row_number().over(Window.partitionBy(col("id") % 2).orderBy("id")))
    parted.collect()
    assert(Dev.detector("window")(parted.queryExecution.executedPlan) == 0)
  }

  test("the fragment detector finds a CartesianProduct with broadcast joins off") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = s.range(3).crossJoin(s.range(4).withColumnRenamed("id", "j"))
    assert(df.count() == 12)
    df.collect()
    assert(Dev.detector("CartesianProduct")(df.queryExecution.executedPlan) == 1)
    assert(Dev.detector("BroadcastNestedLoopJoin")(df.queryExecution.executedPlan) == 0)
  }

  test("an unknown command is rejected, and the shared session is still usable") {
    intercept[IllegalArgumentException](Dev.run(spark, Array("nope")))
    assert(spark.range(5).count() == 5)
  }
}
