package graft

/** Every registered query must run and return rows at sf0.001 —
  * the driver's weaker check for oracle-less entries, applied to all. */
class QueriesSmokeSpec extends SparkTestBase {
  test("registry names are unique (a duplicate silently shadows its twin in the Map)") {
    val dups = Queries.registry.groupBy(_.name).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  Queries.registry.foreach { q =>
    test(s"${q.name} returns rows") {
      // the row runs as Bench, Verify and Dev run it: in Bench.isolated,
      // which must leave nothing the row persisted or made behind
      val first = spark.sparkContext.emptyRDD[Int].id
      val dirs = CacheDirs.tempWorkDirs()
      Bench.isolated(spark) {
        val df = q.fn(spark, sf)
        assert(df.count() > 0, s"${q.name} returned 0 rows")
        // registry-wide plan hygiene: an unpartitioned two-big-sides
        // cartesian product must never appear (broadcast nested-loop
        // against a bounded side is fine and shows up differently)
        assert(!df.queryExecution.executedPlan.toString.contains("CartesianProduct"),
          s"${q.name} executes a CartesianProduct")
        // the physical check alone is vacuous at test scale (everything
        // fits under autoBroadcastJoinThreshold, so JoinSelection plans
        // BNLJ) — also reject the LOGICAL shape that becomes a cartesian
        // at production size: a condition-less join neither side of
        // which carries an explicit broadcast-class hint
        val keylessUnhinted = df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join
              if j.condition.isEmpty &&
                j.hint.leftHint.forall(_.strategy.isEmpty) &&
                j.hint.rightHint.forall(_.strategy.isEmpty) => j
        }
        assert(keylessUnhinted.isEmpty,
          s"${q.name} has a keyless join with no broadcast-side hint — a cartesian at scale")
      }
      val rdds = spark.sparkContext.getPersistentRDDs.keys.filter(_ > first)
      assert(rdds.isEmpty, s"${q.name} left persisted RDDs behind: ${rdds.mkString(",")}")
      val leftDirs = CacheDirs.tempWorkDirs() -- dirs
      assert(leftDirs.isEmpty, s"${q.name} left temp work dirs behind: ${leftDirs.mkString(",")}")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val qs = Queries.queries.keySet
    assert(Queries.oracleSql.keySet.subsetOf(qs))
  }
}
