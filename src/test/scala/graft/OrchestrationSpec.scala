package graft

import graft.job.{JobMetrics, JobQueue, JobRunner}
import graft.model.{ConnectionDetails, DestinationConfig, ErrorHandling, FieldMapping, JobConfig, SourceConfig}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._

class OrchestrationSpec extends SparkTestBase {

  test("SQL extensions: all injected builders callable from spark.sql") {
    // injectFunction needs a session BUILT with extensions (the shared
    // test session already exists) — registering the REAL builder
    // lambdas on the registry exercises the same arity/coercion/
    // argument-order code the extension injects.
    val reg = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, _, builder) =>
      reg.createOrReplaceTempFunction(id.funcName, builder, "scala_udf")
    }
    val r = spark.sql(
      "SELECT fingerprint('abc') AS fp, dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp, " +
        "word_shingles('a b c', 2) AS ws, simhash64('a b c') AS sh, " +
        "minhash_band_keys(word_shingles('a b c d', 3), 128, 32) AS bk, " +
        "array_count_less(array(1.0d, 2.0d, 3.0d), 2.5d) AS acl")
      .collect()(0)
    assert(r.getLong(0) == 96354L) // canonical 'abc' fold value
    assert(r.getDouble(1) == 11.0)
    assert(r.getSeq[String](2) == Seq("a b", "b c"))
    assert(r.getLong(3) != 0L)
    assert(r.getSeq[Long](4).length == 32)
    assert(r.getInt(5) == 2)
    // the SQL-built sketch must agree with the Column-API one
    import spark.implicits._
    val viaApi = Seq("a b c d").toDF("t").select(
      graft.functions.HashSketches.minhashBandKeys(
        graft.functions.Shingles.wordShingles(org.apache.spark.sql.functions.col("t"), 3),
        128, 32)).collect()(0).getSeq[Long](0)
    assert(r.getSeq[Long](4) == viaApi)
    // the aggregate builder: bare AggregateFunction wrapped by analysis
    val tk = spark.sql(
      "SELECT topk_pairs(v, p, 2) AS t FROM VALUES (1.0d, 1L), (3.0d, 2L), (2.0d, 3L) AS x(v, p)")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(r => (r.getDouble(0), r.getLong(1))) == Seq((3.0, 2L), (2.0, 3L)))
    // freq_sketch aggregate: MG candidates with the hot key surviving
    val fs = spark.sql(
      "SELECT freq_sketch(t, 2) AS s FROM VALUES ('a'), ('a'), ('a'), ('b'), ('c') AS x(t)")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(fs.map(_.getString(0)).contains("a"))
    assert(fs.length <= 2)
    // builder misuse fails loudly: wrong arity, non-literal geometry
    intercept[Exception](spark.sql("SELECT simhash64('a', 'b')").collect())
    intercept[Exception](spark.sql("SELECT word_shingles('a b', 4294967297)").collect())
  }

  test("job queue: ack-after-run, DLQ for poison and failed configs") {
    val inbox = tmpDir("queue")
    val out = tmpDir("queue_out")
    // good job
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$inbox/a_good.json"),
      s"""{"jobId":"good1","source":{"type":"PARQUET","connectionDetails":{"path":"$sf/region.parquet"}},
         |"destination":{"type":"PARQUET","connectionDetails":{"path":"$out/region"}},
         |"mappings":[{"sourceFieldName":"r_regionkey","destinationFieldName":"id","destFieldType":"LONG"}]}""".stripMargin)
    // poison (unparseable)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$inbox/b_poison.json"), "{not json")
    // failing job (missing source path)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$inbox/c_bad.json"),
      """{"jobId":"bad1","source":{"type":"PARQUET","connectionDetails":{}},
        |"destination":{"type":"PARQUET","connectionDetails":{"path":"/tmp/never"}}}""".stripMargin)
    val q = new JobQueue(spark, inbox)
    val results = q.drainOnce()
    assert(results("a_good.json").status == JobRunner.Completed)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$inbox/done/a_good.json")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$inbox/failed/b_poison.json")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$inbox/failed/c_bad.json")))
    assert(spark.read.parquet(s"$out/region").count() == 5)
    // inbox drained
    assert(q.drainOnce().isEmpty)
  }

  test("queue crash recovery: stale processing/ claims requeue on start") {
    val inbox = tmpDir("queue_rec")
    val out = tmpDir("queue_rec_out")
    new JobQueue(spark, inbox) // lays out inbox/done/failed/processing
    // a claim left behind by a consumer that died mid-job
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$inbox/processing/stale_good.json"),
      s"""{"jobId":"rec1","source":{"type":"PARQUET","connectionDetails":{"path":"$sf/region.parquet"}},
         |"destination":{"type":"PARQUET","connectionDetails":{"path":"$out/region"}},
         |"mappings":[{"sourceFieldName":"r_regionkey","destinationFieldName":"id","destFieldType":"LONG"}]}""".stripMargin)
    val fresh = new JobQueue(spark, inbox) // restart -> requeue
    val results = fresh.drainOnce()
    assert(results("stale_good.json").status == JobRunner.Completed)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$inbox/done/stale_good.json")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$inbox/processing/stale_good.json")))
  }

  test("job metrics listener aggregates task metrics per job group") {
    val m = new JobMetrics(spark)
    try {
      spark.sparkContext.setJobGroup("metrics-test", "test", true)
      Tables.t(spark, sf, "lineitem").agg(count(lit(1))).collect()
      spark.sparkContext.clearJobGroup()
      // listener bus is async — poll until the events drain
      val deadline = System.currentTimeMillis() + 10000
      while (m.counters("metrics-test").forall(_.recordsRead.get() < 6000L)
             && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val c = m.counters("metrics-test")
      assert(c.isDefined, "no counters recorded for the job group")
      assert(c.get.recordsRead.get() == 6000L, s"recordsRead=${c.get.recordsRead.get()}")
    } finally m.close()
  }

  test("live progress percent against the pre-counted source total (O10)") {
    val m = new JobMetrics(spark)
    JobRunner.attachMetrics(m)
    try {
      var seen: Option[Double] = None
      val cfg = graft.model.JobConfig(
        jobId = "prog1",
        source = graft.model.SourceConfig("PARQUET",
          graft.model.ConnectionDetails(path = Some(s"$sf/orders.parquet"))),
        destination = Some(graft.model.DestinationConfig("PARQUET",
          graft.model.ConnectionDetails(path = Some(s"${tmpDir("prog")}/dest")))),
        mappings = List(graft.model.FieldMapping("o_orderkey", "id", destFieldType = "LONG")))
      val res = JobRunner.run(spark, cfg, notifier = r => {
        // notifier fires while run state is live; listener events are
        // async, so poll the bus briefly
        val deadline = System.currentTimeMillis() + 10000
        while ({ seen = JobRunner.progress(r.configKey); seen.forall(_ <= 0.0) }
               && System.currentTimeMillis() < deadline) Thread.sleep(100)
      })
      assert(res.status == JobRunner.Completed, res.message)
      assert(seen.exists(p => p > 0.0 && p <= 100.0), s"progress=$seen")
      // after the run, live-progress state is cleared
      assert(JobRunner.progress(res.configKey).isEmpty)
    } finally { JobRunner.detachMetrics(); m.close() }
  }

  test("MERGE_STRATEGY step: KEEP_LATEST and SCD2 from JSON config fixtures") {
    import spark.implicits._
    val work = tmpDir("merge_step")

    // ---- KEEP_LATEST (SCD-1): second batch overwrites key 2, adds 4
    Seq((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
      .toDF("k", "ver", "v").write.parquet(s"$work/batch1")
    Seq((2L, 2L, "B2"), (4L, 1L, "d"))
      .toDF("k", "ver", "v").write.parquet(s"$work/batch2")
    def klConfig(src: String): String =
      s"""{"jobId":"kl-$src","steps":["MERGE_STRATEGY"],
         |"source":{"type":"PARQUET","connectionDetails":{"path":"$work/$src"}},
         |"destination":{"type":"PARQUET","connectionDetails":{"path":"$work/dest_kl"}},
         |"mappings":[
         |  {"sourceFieldName":"k","destinationFieldName":"k","destFieldType":"LONG"},
         |  {"sourceFieldName":"ver","destinationFieldName":"ver","destFieldType":"LONG"},
         |  {"sourceFieldName":"v","destinationFieldName":"v","destFieldType":"STRING"}],
         |"transformation":{"type":"NONE","parameters":{
         |  "mergeStrategy":"KEEP_LATEST","mergeKeys":"k","versionColumn":"ver"}}}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/kl1.json"), klConfig("batch1"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/kl2.json"), klConfig("batch2"))
    val r1 = JobRunner.run(spark, graft.model.JobConfig.fromFile(s"$work/kl1.json"))
    assert(r1.status == JobRunner.Completed && r1.recordsWritten == 3, r1.message)
    val r2 = JobRunner.run(spark, graft.model.JobConfig.fromFile(s"$work/kl2.json"))
    assert(r2.status == JobRunner.Completed && r2.recordsWritten == 4, r2.message)
    val merged = spark.read.parquet(s"$work/dest_kl")
      .collect().map(r => r.getAs[Long]("k") -> (r.getAs[Long]("ver"), r.getAs[String]("v"))).toMap
    assert(merged == Map(1L -> (1L, "a"), 2L -> (2L, "B2"), 3L -> (1L, "c"), 4L -> (1L, "d")))

    // ---- SCD2: key 2 re-arrives later; its current row closes at the
    //      new valid_from and a new open row appends
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    Seq((1L, "x", t0, null.asInstanceOf[java.sql.Timestamp]),
        (2L, "y", t0, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("k", "attr", "valid_from", "valid_to").write.parquet(s"$work/dim1")
    Seq((2L, "y2", t1, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("k", "attr", "valid_from", "valid_to").write.parquet(s"$work/dim2")
    def scdConfig(src: String): String =
      s"""{"jobId":"scd-$src","steps":["MERGE_STRATEGY"],
         |"source":{"type":"PARQUET","connectionDetails":{"path":"$work/$src"}},
         |"destination":{"type":"PARQUET","connectionDetails":{"path":"$work/dest_scd"}},
         |"mappings":[
         |  {"sourceFieldName":"k","destinationFieldName":"k","destFieldType":"LONG"},
         |  {"sourceFieldName":"attr","destinationFieldName":"attr","destFieldType":"STRING"},
         |  {"sourceFieldName":"valid_from","destinationFieldName":"valid_from","destFieldType":"TIMESTAMP"},
         |  {"sourceFieldName":"valid_to","destinationFieldName":"valid_to","destFieldType":"TIMESTAMP"}],
         |"transformation":{"type":"NONE","parameters":{
         |  "mergeStrategy":"SCD2","mergeKeys":"k"}}}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/scd1.json"), scdConfig("dim1"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/scd2.json"), scdConfig("dim2"))
    val s1 = JobRunner.run(spark, graft.model.JobConfig.fromFile(s"$work/scd1.json"))
    assert(s1.status == JobRunner.Completed && s1.recordsWritten == 2, s1.message)
    val s2 = JobRunner.run(spark, graft.model.JobConfig.fromFile(s"$work/scd2.json"))
    assert(s2.status == JobRunner.Completed && s2.recordsWritten == 3, s2.message)
    val dim = spark.read.parquet(s"$work/dest_scd")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("attr"),
        r.getAs[java.sql.Timestamp]("valid_to"))).toSet
    assert(dim == Set((1L, "x", null), (2L, "y", t1), (2L, "y2", null)))

    // crash recovery: a destination missing with a rename-aside
    // sibling means a prior swap died between its renames — the next
    // run restores the aside and merges into it, NEVER treating the
    // batch as a first load
    val beforeCrash = spark.read.parquet(s"$work/dest_kl").collect().map(_.toString).sorted.toSeq
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$work/dest_kl"),
      java.nio.file.Paths.get(s"$work/_dest_kl_old_deadbeef"))
    val repaired = JobRunner.run(spark, graft.model.JobConfig.fromFile(s"$work/kl2.json"))
    assert(repaired.status == JobRunner.Completed && repaired.recordsWritten == 4,
      s"a first load would write the batch's 2 rows: ${repaired.message}")
    assert(spark.read.parquet(s"$work/dest_kl").collect().map(_.toString).sorted.toSeq == beforeCrash,
      "the merge must run on the restored rows: replaying kl2 onto them changes nothing")
    assert(!new java.io.File(s"$work/_dest_kl_old_deadbeef").exists(), "the aside must be gone")

    // misconfiguration fails the job, not the JVM: CSV dest rejected
    val bad = graft.model.JobConfig.fromFile(s"$work/kl1.json")
    val badRes = JobRunner.run(spark, bad.copy(destination = Some(
      graft.model.DestinationConfig("CSV",
        graft.model.ConnectionDetails(path = Some(s"$work/dest_csv"))))))
    badRes.status match {
      case JobRunner.Failed(msg) => assert(msg.contains("PARQUET/ORC"))
      case s => fail(s"expected Failed, got $s")
    }
  }

  test("MERGE_STRATEGY KEEP_LATEST: a first load keeps the latest row per key") {
    import spark.implicits._
    val work = tmpDir("merge_first")
    // key 1 arrives three times in the first batch; no destination yet
    Seq((1L, 1L, "a"), (1L, 3L, "a3"), (2L, 1L, "b"), (1L, 2L, "a2"))
      .toDF("k", "ver", "v").write.parquet(s"$work/batch1")
    val r = JobRunner.run(spark, graft.model.JobConfig.fromJson(
      s"""{"jobId":"kl-first","steps":["MERGE_STRATEGY"],
         |"source":{"type":"PARQUET","connectionDetails":{"path":"$work/batch1"}},
         |"destination":{"type":"PARQUET","connectionDetails":{"path":"$work/dest"}},
         |"mappings":[
         |  {"sourceFieldName":"k","destinationFieldName":"k","destFieldType":"LONG"},
         |  {"sourceFieldName":"ver","destinationFieldName":"ver","destFieldType":"LONG"},
         |  {"sourceFieldName":"v","destinationFieldName":"v","destFieldType":"STRING"}],
         |"transformation":{"type":"NONE","parameters":{
         |  "mergeStrategy":"KEEP_LATEST","mergeKeys":"k","versionColumn":"ver"}}}""".stripMargin))
    assert(r.status == JobRunner.Completed && r.recordsWritten == 2, r.message)
    val got = spark.read.parquet(s"$work/dest")
      .collect().map(r => r.getAs[Long]("k") -> (r.getAs[Long]("ver"), r.getAs[String]("v"))).toMap
    assert(got == Map(1L -> (3L, "a3"), 2L -> (1L, "b")))
  }

  test("MANIFEST_DESTINATION step writes the zone-map beside the data it describes") {
    import spark.implicits._
    val work = tmpDir("manifest_step")
    spark.range(0, 3000).selectExpr("id AS k", "id % 7 AS v")
      .repartition(4).write.parquet(s"$work/src")
    val cfgJson =
      s"""{"jobId":"manifest-1","steps":["LOAD","MANIFEST_DESTINATION"],
         |"source":{"type":"PARQUET","connectionDetails":{"path":"$work/src"}},
         |"destination":{"type":"PARQUET","connectionDetails":{"path":"$work/dest"}},
         |"mappings":[
         |  {"sourceFieldName":"k","destinationFieldName":"k","destFieldType":"LONG"},
         |  {"sourceFieldName":"v","destinationFieldName":"v","destFieldType":"LONG"}],
         |"transformation":{"type":"NONE","parameters":{"manifestColumns":"k,v","bloomColumns":"k"}}}""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/m.json"), cfgJson)
    val res = JobRunner.run(spark, graft.model.JobConfig.fromFile(s"$work/m.json"))
    assert(res.status == JobRunner.Completed, res.message)
    val manifest = spark.read.parquet(s"$work/dest/_manifest")
    val fs = new org.apache.hadoop.fs.Path(s"$work/dest")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = graft.operators.Maintenance.dataFiles(fs,
      new org.apache.hadoop.fs.Path(s"$work/dest"))
    assert(manifest.count() == dataFiles.size,
      s"one manifest row per data file: ${manifest.count()} vs ${dataFiles.size}")
    // the hidden manifest must be invisible to a plain read of dest...
    assert(spark.read.parquet(s"$work/dest").count() == 3000)
    // ...and global min/max must agree with the data
    val m = manifest.agg(min("min_k"), max("max_k"), sum("n_rows")).head()
    assert(m.getLong(0) == 0L && m.getLong(1) == 2999L && m.getLong(2) == 3000L)
    // the persisted manifest drives a skipping read that equals the filter
    val pruned = graft.operators.Maintenance.skippingRead(
      spark, s"$work/dest", manifest, "k", lit(100), lit(200))
    val full = spark.read.parquet(s"$work/dest").filter(col("k").between(100, 200))
    assert(pruned.orderBy("k").collect().toSeq == full.orderBy("k").collect().toSeq)
    // bloomColumns writes the sibling point-lookup manifest, also
    // hidden, also one row per data file, and it drives a bloom
    // skipping read equal to the plain filter
    val bloom = spark.read.parquet(s"$work/dest/_bloom_manifest")
    assert(bloom.count() == dataFiles.size &&
      bloom.columns.contains("bloom_k"))
    val bPruned = graft.operators.Maintenance.bloomSkippingRead(
      spark, s"$work/dest", bloom, "k", Seq(1234L))
    assert(bPruned.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    // the step alone after a publish that crashed after moving the
    // destination aside: it restores the destination, then manifests it
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$work/dest"),
      java.nio.file.Paths.get(s"$work/_dest_old_deadbeef"))
    val alone = JobRunner.run(spark, graft.model.JobConfig.fromFile(s"$work/m.json")
      .copy(jobId = "manifest-2", steps = List("MANIFEST_DESTINATION")))
    assert(alone.status == JobRunner.Completed, alone.message)
    assert(spark.read.parquet(s"$work/dest/_manifest").count() == dataFiles.size)
    assert(!new java.io.File(s"$work/_dest_old_deadbeef").exists(), "the aside must be gone")
  }

  test("LOAD_SNAPSHOT: each job run commits a new pinned version of the destination") {
    val work = tmpDir("snap_step")
    spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS v")
      .write.parquet(s"$work/src")
    def cfg(run: Int) = graft.model.JobConfig(
      jobId = s"snap-$run",
      steps = List("LOAD_SNAPSHOT"),
      source = graft.model.SourceConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(s"$work/src"),
          filter = if (run == 2) Some("k < 500") else None)),
      destination = Some(graft.model.DestinationConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(s"$work/dest")))),
      mappings = List(
        graft.model.FieldMapping("k", "k", "NUMBER", "LONG"),
        graft.model.FieldMapping("v", "v", "NUMBER", "LONG")))
    val r1 = JobRunner.run(spark, cfg(1))
    val r2 = JobRunner.run(spark, cfg(2))
    assert(r1.status == JobRunner.Completed && r2.status == JobRunner.Completed)
    assert(r1.recordsWritten == 1000 && r2.recordsWritten == 500)
    // live = the second run's filtered batch; v1 pinned and intact
    assert(graft.operators.Snapshots.read(spark, s"$work/dest").count() == 500)
    assert(graft.operators.Snapshots.read(spark, s"$work/dest", Some(1L)).count() == 1000)
  }

  test("cooperative cancellation via job groups (O11)") {
    val t = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup("cancel-test", "slow", true)
        // a slow job: cartesian lineitem x lineitem
        val li = Tables.t(spark, sf, "lineitem")
        li.crossJoin(li.withColumnRenamed("l_orderkey", "k2")).count()
      } catch { case _: Throwable => () } // expected: cancelled
      finally spark.sparkContext.clearJobGroup()
    })
    t.start()
    Thread.sleep(1500)
    spark.sparkContext.cancelJobGroup("cancel-test")
    t.join(30000)
    assert(!t.isAlive, "cancelled job thread should have terminated")
  }

  test("BACKFILL_DESTINATION overwrites only the batch's partitions through the job path") {
    import spark.implicits._
    val root = tmpDir("graft_bfstep_")
    val dest = s"$root/dest"
    Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("id", "v", "p").write.partitionBy("p").parquet(dest)
    // corrected source carries ONLY partition b, with a new value
    Seq((2L, 99.0, "b"), (20L, 98.0, "b")).toDF("id", "v", "p")
      .write.parquet(s"$root/src")
    val cfg = graft.model.JobConfig(
      jobId = "backfill-1",
      steps = List("BACKFILL_DESTINATION"),
      source = graft.model.SourceConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(s"$root/src"))),
      destination = Some(graft.model.DestinationConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(dest)))),
      mappings = List(
        graft.model.FieldMapping("id", "id", destFieldType = "LONG"),
        graft.model.FieldMapping("v", "v", destFieldType = "DOUBLE"),
        graft.model.FieldMapping("p", "p", destFieldType = "STRING")),
      transformation = graft.model.Transformation("NONE",
        parameters = Map("partitionColumns" -> "p")))
    val res = graft.job.JobRunner.run(spark, cfg)
    assert(res.status == graft.job.JobRunner.Completed, res.message)
    val got = spark.read.parquet(dest).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got == Set((1L, 10.0, "a"), (2L, 99.0, "b"), (20L, 98.0, "b"), (3L, 30.0, "c")), got)
    // a publish that crashed after moving the destination aside: the
    // rerun restores it before backfilling, so partitions a and c stay
    java.nio.file.Files.move(java.nio.file.Paths.get(dest), java.nio.file.Paths.get(s"$root/_dest_old_deadbeef"))
    val again = graft.job.JobRunner.run(spark, cfg.copy(jobId = "backfill-1b"))
    assert(again.status == graft.job.JobRunner.Completed, again.message)
    assert(spark.read.parquet(dest).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet == got)
    assert(!new java.io.File(s"$root/_dest_old_deadbeef").exists(), "the aside must be gone")
    // a typo'd partition column fails with the step's contract message
    val bad = cfg.copy(jobId = "backfill-2",
      transformation = graft.model.Transformation("NONE",
        parameters = Map("partitionColumns" -> "nope")))
    graft.job.JobRunner.run(spark, bad).status match {
      case graft.job.JobRunner.Failed(m) =>
        assert(m.contains("partitionColumns not in the mapped batch"), m)
      case st => fail(s"expected Failed, got $st")
    }
  }

  test("INGEST_DEDUP_DESTINATION: cross-batch pairs flow through the persisted " +
    "sketch, clusters fold incrementally, and a re-submitted batch id is a no-op") {
    import spark.implicits._
    val root = tmpDir("graft_ingded_")
    val state = s"$root/state"
    // docs 1 (batch 0) and 2 (batch 1) near-duplicate ACROSS the batch
    // boundary; 3+4 pin the batch-internal path inside batch 0
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india kilo"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "one two three four five six seven eight nine eleven"),
      (5L, "nothing shares anything with the rest of this feed at all"))
      .toDF("doc_id", "text")
    docs.filter(col("doc_id").isin(1L, 3L, 4L)).write.parquet(s"$root/b0")
    docs.filter(col("doc_id").isin(2L, 5L)).write.parquet(s"$root/b1")
    def cfg(src: String, id: String, batchId: Long) = graft.model.JobConfig(
      jobId = id,
      steps = List("INGEST_DEDUP_DESTINATION"),
      source = graft.model.SourceConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(src))),
      destination = Some(graft.model.DestinationConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(state)))),
      mappings = List(
        graft.model.FieldMapping("doc_id", "doc_id", destFieldType = "LONG"),
        graft.model.FieldMapping("text", "text", destFieldType = "STRING")),
      transformation = graft.model.Transformation("NONE", parameters = Map(
        "ingestIdColumn" -> "doc_id", "ingestTextColumn" -> "text",
        "ingestBatchId" -> batchId.toString)))
    assert(JobRunner.run(spark, cfg(s"$root/b0", "ing-0", 0L)).status == JobRunner.Completed)
    assert(JobRunner.run(spark, cfg(s"$root/b1", "ing-1", 1L)).status == JobRunner.Completed)
    def pairs() = spark.read.parquet(s"$state/pairs")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def clusters() = spark.read.parquet(s"$state/clusters")
      .filter(col("batch") === 1).drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val p1 = pairs(); val c1 = clusters()
    // the boundary pair (1,2) exists ONLY via batch 0's persisted sketch
    assert(p1 === Set((1L, 2L), (3L, 4L)), s"got $p1")
    assert(c1 === Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)), s"got $c1")
    // exactly-once at the job surface: the SAME batch id re-submits
    // (an orchestrator retry) and must change nothing
    assert(JobRunner.run(spark, cfg(s"$root/b1", "ing-1-retry", 1L)).status == JobRunner.Completed)
    assert(pairs() === p1)
    assert(clusters() === c1)
    assert(spark.read.parquet(s"$state/docs").count() === 5L)
  }

  test("runDecided drives ANN maintenance: pass -> append (era kept), " +
    "fail -> rebuild (new era), replays no-op, append-before-build loud") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = tmpDir("ann_decider_spec")
    val dest = s"$work/index"
    // 3 clusters around (1,0), (0,1), (-1,0); e0 = first component
    def vecs(ids: Range, shift: Double) = ids.map { i =>
      val base = i % 3 match {
        case 0 => Seq(1.0, 0.1 * (i % 5), 0.0, 0.0)
        case 1 => Seq(0.0, 1.0, 0.1 * (i % 5), 0.0)
        case _ => Seq(-1.0, 0.0, 0.1 * (i % 5), 0.1)
      }
      (i.toLong, base.map(_ + shift))
    }.toDF("vec_id", "e").withColumn("e0", element_at(col("e"), 1))
    vecs(0 until 30, 0.0).write.parquet(s"$work/b0")
    vecs(30 until 60, 0.0).write.parquet(s"$work/b1")
    vecs(60 until 90, 5.0).write.parquet(s"$work/b2") // injected drift
    def probe(src: String, id: String) = graft.model.JobConfig(
      jobId = id, steps = List("VALIDATE_DRIFT"),
      source = graft.model.SourceConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(src))),
      destination = None, mappings = Nil,
      transformation = graft.model.Transformation("NONE", parameters = Map(
        "driftColumn" -> "e0", "driftBandWidth" -> "0.5",
        "driftBaselinePath" -> s"$work/b0")))
    def maint(src: String, id: String, b: Long, mode: String) = graft.model.JobConfig(
      jobId = id, steps = List("INGEST_ANN_DESTINATION"),
      source = graft.model.SourceConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(src))),
      destination = Some(graft.model.DestinationConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(dest)))),
      mappings = Nil,
      transformation = graft.model.Transformation("NONE", parameters = Map(
        "ingestIdColumn" -> "vec_id", "ingestVectorColumn" -> "e",
        "ingestBatchId" -> b.toString, "annNLists" -> "4", "annMode" -> mode)))
    // append before any build: loud contract error, not silent state
    graft.job.JobRunner.run(spark, maint(s"$work/b0", "a-early", 0L, "append")).status match {
      case graft.job.JobRunner.Failed(m) => assert(m.contains("rebuild"), m)
      case st => fail(s"expected Failed, got $st")
    }
    assert(graft.job.JobRunner.run(spark,
      maint(s"$work/b0", "a-build", 0L, "rebuild")).status == graft.job.JobRunner.Completed)
    val era0 = graft.streaming.EventStreams
      .latestCommittedBatch(spark, s"$dest/centroids").get
    // PASS branch: in-distribution batch appends; the era is unchanged
    val (p1, m1) = graft.job.JobRunner.runDecided(spark,
      probe(s"$work/b1", "a-probe-1"),
      onPass = maint(s"$work/b1", "a-append-1", 1L, "append"),
      onFail = maint(s"$work/b1", "a-rebuild-1", 1L, "rebuild"),
      expectedFailure = Some("VALIDATE_DRIFT"))
    assert(p1.status == graft.job.JobRunner.Completed, p1.message)
    assert(m1.exists(_.status == graft.job.JobRunner.Completed), m1.map(_.message))
    assert(m1.get.jobId == "a-append-1", "pass must take the append branch")
    assert(graft.streaming.EventStreams
      .latestCommittedBatch(spark, s"$dest/centroids").get === era0)
    // a probe that cannot RUN (config typo) takes NO branch — a
    // broken driftColumn must not silently trigger a full rebuild
    val broken = probe(s"$work/b1", "a-probe-broken").copy(
      transformation = graft.model.Transformation("NONE", parameters = Map(
        "driftColumn" -> "no_such_column", "driftBandWidth" -> "0.5",
        "driftBaselinePath" -> s"$work/b0")))
    val (pb, mb) = graft.job.JobRunner.runDecided(spark, broken,
      onPass = maint(s"$work/b1", "a-append-x", 9L, "append"),
      onFail = maint(s"$work/b1", "a-rebuild-x", 9L, "rebuild"),
      expectedFailure = Some("VALIDATE_DRIFT: psi_micro"))
    assert(pb.status != graft.job.JobRunner.Completed)
    assert(mb.isEmpty, s"a config error must take no branch, ran: ${mb.map(_.jobId)}")
    // the DEFAULT (no expectedFailure) is the safe semantics (ADVICE
    // r18): ANY probe failure takes NO branch — only callers that
    // name the verdict they expect get an onFail branch at all
    val (pd, md) = graft.job.JobRunner.runDecided(spark, broken,
      onPass = maint(s"$work/b1", "a-append-y", 9L, "append"),
      onFail = maint(s"$work/b1", "a-rebuild-y", 9L, "rebuild"))
    assert(pd.status != graft.job.JobRunner.Completed)
    assert(md.isEmpty,
      s"default expectedFailure must take no branch on Failed, ran: ${md.map(_.jobId)}")
    // FAIL branch: drifted batch rebuilds; a NEW centroid era appears
    val (p2, m2) = graft.job.JobRunner.runDecided(spark,
      probe(s"$work/b2", "a-probe-2"),
      onPass = maint(s"$work/b2", "a-append-2", 2L, "append"),
      onFail = maint(s"$work/b2", "a-rebuild-2", 2L, "rebuild"),
      expectedFailure = Some("VALIDATE_DRIFT: psi_micro"))
    assert(p2.status != graft.job.JobRunner.Completed)
    assert(m2.exists(_.status == graft.job.JobRunner.Completed), m2.map(_.message))
    assert(m2.get.jobId == "a-rebuild-2", "fail must take the rebuild branch")
    val era2 = graft.streaming.EventStreams
      .latestCommittedBatch(spark, s"$dest/centroids").get
    assert(era2 === 2L, s"rebuild must open a new era, got $era2")
    // the rebuilt index serves the whole corpus exactly at nProbe=nLists
    val all = vecs(0 until 60, 0.0).unionByName(vecs(60 until 90, 5.0)).drop("e0")
    val probes = all.filter(col("vec_id").isin(0L, 61L))
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    // batchTopK excludes the probe row itself; the index form does
    // not — serve k=4, drop the self-hit, compare the remaining 3
    val served = graft.streaming.EventStreams
      .annIngestTopK(spark, dest, probes, k = 4, nProbe = 4)
      .filter(col("probe_id") =!= col("vec_id"))
      .select("probe_id", "vec_id", "cos_sim").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (-r.getDouble(2), r.getLong(1)))
        .map(_.getLong(1)).take(3).toSeq).toMap
    val exact = graft.operators.Similarity.batchTopK(all, probes, "e", k = 3)
      .select("probe_id", "rk", "vec_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(served === exact,
      s"rebuilt index must serve exact top-k: exact=$exact served=$served")
    // replay of a committed decided batch: no-op (postings count stable)
    val nPost = spark.read.parquet(s"$dest/postings").count()
    graft.job.JobRunner.run(spark, maint(s"$work/b2", "a-rebuild-2r", 2L, "rebuild"))
    assert(spark.read.parquet(s"$dest/postings").count() === nPost)
  }

  test("VALIDATE_DRIFT step: passes on a same-era source, fails past the PSI gate") {
    import org.apache.spark.sql.functions._
    val work = tmpDir("drift_step")
    // baseline era = the orders price distribution itself
    spark.read.parquet(s"$sf/orders.parquet").select("o_totalprice")
      .write.parquet(s"$work/baseline")
    def cfg(id: String, base: String) = graft.model.JobConfig(
      jobId = id,
      steps = List("VALIDATE_DRIFT", "LOAD"),
      source = graft.model.SourceConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(s"$sf/orders.parquet"))),
      destination = Some(graft.model.DestinationConfig("PARQUET",
        graft.model.ConnectionDetails(path = Some(s"$work/dest_$id")))),
      mappings = List(
        graft.model.FieldMapping("o_orderkey", "o_orderkey", destFieldType = "LONG"),
        graft.model.FieldMapping("o_totalprice", "o_totalprice", destFieldType = "DOUBLE")),
      transformation = graft.model.Transformation("NONE",
        parameters = Map(
          "driftColumn" -> "o_totalprice",
          "driftBandWidth" -> "50000",
          "driftBaselinePath" -> base)))
    // same era: PSI ~ 0 (only +1-smoothing noise) -> job completes
    val ok = graft.job.JobRunner.run(spark, cfg("drift-ok", s"$work/baseline"))
    assert(ok.status == graft.job.JobRunner.Completed, ok.message)
    assert(ok.stepsRun.contains("VALIDATE_DRIFT"), ok.stepsRun)
    // shifted baseline (prices collapsed into band 0) -> gate fires
    spark.read.parquet(s"$sf/orders.parquet")
      .select((col("o_totalprice") / 1000).as("o_totalprice"))
      .write.parquet(s"$work/shifted")
    graft.job.JobRunner.run(spark, cfg("drift-bad", s"$work/shifted")).status match {
      case graft.job.JobRunner.Failed(m) => assert(m.contains("VALIDATE_DRIFT"), m)
      case st => fail(s"expected Failed, got $st")
    }
  }

  // ---- LOAD pin table: strategy x saveMode x destination ----
  // Each cell loads `loadNew` (two bad rows: a null key and an
  // unparsable amount) into a copy of a destination and error file that
  // an earlier ROUTE_TO_FILE load of `loadOld` left behind (or into
  // nothing, for the `fresh` cells), and pins the job status, the
  // written and failed counts, the destination listing (UUIDs and .crc
  // files left out), the destination's ids and the error-CSV content
  // (header, then its rows sorted: row order across part files is not
  // part of the contract).

  private lazy val loadWork = tmpDir("load_pin")
  private def loadCsv(name: String, rows: String*): String = {
    val f = Paths.get(loadWork, s"$name.csv")
    if (!Files.exists(f))
      Files.writeString(f, ("id,name,amount,region" +: rows).mkString("", "\n", "\n"))
    f.toString
  }
  private def loadOld = loadCsv("old", "100,olda,1.00,north", "101,oldb,2.00,south", ",oldc,3.00,north")
  private def loadNew = loadCsv("new", "1,alice,10.50,north", "2,bob,x,south", ",carol,3.25,north",
    "4,\"dave, jr\",7.00,south", "5,erin,1.00,east")
  private def loadClean = loadCsv("clean", "1,alice,10.50,north", "4,\"dave, jr\",7.00,south",
    "5,erin,1.00,east")

  private val loadDests: Map[String, ConnectionDetails => DestinationConfig] = {
    val keyed = (c: ConnectionDetails) =>
      c.copy(partitionKeys = List("region"), sortKeys = List("id"))
    Map(
      "parquet" -> (c => DestinationConfig("PARQUET", c)),
      "csv" -> (c => DestinationConfig("CSV", c)),
      "parquet_keys" -> (c => DestinationConfig("PARQUET", keyed(c))),
      "csv_keys" -> (c => DestinationConfig("CSV", keyed(c))),
      "orc" -> (c => DestinationConfig("ORC", c)),
      "orc_keys" -> (c => DestinationConfig("ORC", keyed(c))),
      "json" -> (c => DestinationConfig("JSON", c)),
      "json_keys" -> (c => DestinationConfig("JSON", keyed(c))),
      "xml" -> (c => DestinationConfig("XML", c)))
  }

  private val loadStrategies: Map[String, ErrorHandling] = Map(
    "FAIL_JOB" -> ErrorHandling("FAIL_JOB"),
    "LOG_ONLY" -> ErrorHandling("LOG_ONLY"),
    "LOG_ONLY_max1" -> ErrorHandling("LOG_ONLY", maxErrorsAllowed = 1),
    "LOG_ONLY_max5" -> ErrorHandling("LOG_ONLY", maxErrorsAllowed = 5),
    "ROUTE_TO_FILE" -> ErrorHandling("ROUTE_TO_FILE"),
    "ROUTE_TO_FILE_max1" -> ErrorHandling("ROUTE_TO_FILE", maxErrorsAllowed = 1))

  private def loadJob(id: String, src: String, dest: DestinationConfig,
                      eh: ErrorHandling) = JobConfig(
    jobId = id,
    source = SourceConfig("CSV",
      ConnectionDetails(path = Some(src), includeHeader = Some(true))),
    destination = Some(dest),
    mappings = List(
      FieldMapping("id", "id", destFieldType = "LONG", isDestNullable = false),
      FieldMapping("name", "name"),
      FieldMapping("amount", "amount", destFieldType = "DECIMAL(10,2)", isDestNullable = false),
      FieldMapping("region", "region")),
    errorHandling = eh,
    steps = List("LOAD"))

  private def copyTree(from: Path, to: Path): Unit =
    if (Files.exists(from)) {
      val s = Files.walk(from)
      try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p).toString)))
      finally s.close()
    }

  private def listing(dir: String): String = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) "-"
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq
        .map(p => root.relativize(p.asInstanceOf[Path]).toString)
        .filterNot(_.endsWith(".crc"))
        .map(_.replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "*"))
        .sorted.mkString(" ")
      finally s.close()
    }
  }

  private def errorCsv(dir: String): String = {
    val root = new java.io.File(dir)
    if (!root.exists()) "-"
    else {
      val files = root.listFiles().filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      val lines = files.map(f => Files.readAllLines(f.toPath).toArray.toSeq.map(_.toString))
      val headers = lines.flatMap(_.headOption).distinct
      (headers ++ lines.flatMap(_.drop(1)).sorted).mkString("|")
    }
  }

  private def destIds(kind: String, dir: String): String =
    if (!new java.io.File(dir).exists()) "-"
    else spark.read.format(kind.takeWhile(_ != '_')).option("header", "true").option("rowTag", "row").load(dir)
      .select(col("id").cast("long")).collect().map(_.getLong(0)).sorted.mkString(",")

  /** Runs one cell and renders what it pins. */
  private def loadCell(dest: String, strategy: String, mode: String, fresh: Boolean,
                       src: String = loadNew): String = {
    val cell = s"$dest-$strategy-$mode-${if (fresh) "fresh" else "existing"}-${if (src == loadClean) "clean" else "new"}"
    val dir = Paths.get(loadWork, "cells", cell)
    Files.createDirectories(dir)
    if (!fresh) copyTree(Paths.get(loadWork, "prior", dest), dir.resolve("out"))
    val out = dir.resolve("out")
    def conn(p: Path) = ConnectionDetails(path = Some(p.resolve("orders").toString))
    val eh = loadStrategies(strategy).copy(errorFilePath = Some(out.resolve("errors").toString))
    val r = JobRunner.run(spark, loadJob(cell, src, loadDests(dest)(conn(out)).copy(saveMode = mode), eh))
    val left = Option(out.toFile.list()).toSeq.flatten.filterNot(Set("orders", "errors"))
    assert(left.isEmpty, s"$cell left $left beside the destination")
    val status = r.status match {
      case JobRunner.Failed(m) => s"Failed(${m.replace(dir.toString, "<cell>").takeWhile(_ != '.')})"
      case s => s.toString
    }
    s"$status ${r.recordsWritten} ${r.recordsFailed} [${listing(out.resolve("orders").toString)}] " +
      s"[${destIds(dest, out.resolve("orders").toString)}] [${errorCsv(out.resolve("errors").toString)}]"
  }

  private def loadPriors(dests: Iterable[String]): Unit = dests.foreach { d =>
    val out = Paths.get(loadWork, "prior", d)
    if (!Files.exists(out)) {
      val r = JobRunner.run(spark, loadJob(s"prior-$d", loadOld,
        loadDests(d)(ConnectionDetails(path = Some(out.resolve("orders").toString))),
        ErrorHandling("ROUTE_TO_FILE", Some(out.resolve("errors").toString))))
      assert(r.status == JobRunner.Completed, r.message)
    }
  }

  /** What a cell leaves: the destination as the earlier load left it
    * (`old`), replaced by this load (`new`), both loads' files (`both`)
    * or no destination (`none`); and the error CSV of the earlier load
    * (`old`), of this load (`new`, or `empty` when it routed no row) or
    * none. */
  private val loadIds = Map("old" -> "100,101", "new" -> "1,4,5", "both" -> "1,4,5,100,101", "none" -> "-")
  private val loadErrors = Map("old" -> "id,name,amount,region|,oldc,3.00,north",
    "new" -> "id,name,amount,region|,carol,3.25,north|2,bob,,south",
    "empty" -> "id,name,amount,region", "none" -> "-")
  private def loadListing(dest: String, state: String): String = {
    val ext = Map("parquet" -> ".snappy.parquet", "csv" -> ".csv", "orc" -> ".zstd.orc",
      "json" -> ".json", "xml" -> ".xml")(dest.takeWhile(_ != '_'))
    val regions = state match {
      case "old" => Seq("north", "south")
      case "new" => Seq("east", "north", "south")
      case "both" => Seq("east", "north", "north", "south", "south")
      case _ => return "-"
    }
    val files =
      if (dest.endsWith("_keys")) regions.map(r => s"region=$r/part-00000-*.c000$ext")
      else Seq.fill(if (state == "both") 2 else 1)(s"part-00000-*-c000$ext")
    ("_SUCCESS" +: files).mkString(" ")
  }

  private val nullKeyFail = "Failed(null constraint violated on non-nullable column(s) id,amount (strategy=FAIL_JOB)) 0 0"
  private val overCapFail = "Failed(recordsFailed=2 exceeds maxErrorsAllowed=1) 0 0"
  private val existsFail = "Failed([PATH_ALREADY_EXISTS] Path file:<cell>/out/orders already exists) 0 0"

  /** (strategy, saveMode) -> status, written, failed, destination, error CSV. */
  private val loadOutcomes: Map[(String, String), String] = Map(
    ("FAIL_JOB", "overwrite") -> s"$nullKeyFail old old",
    ("FAIL_JOB", "append") -> s"$nullKeyFail old old",
    ("FAIL_JOB", "ignore") -> s"$nullKeyFail old old",
    ("FAIL_JOB", "errorifexists") -> s"$nullKeyFail old old",
    ("LOG_ONLY", "overwrite") -> "Completed 3 2 new old",
    ("LOG_ONLY", "append") -> "Completed 3 2 both old",
    // ignore onto an existing destination runs no write, so the
    // observed count stays 0
    ("LOG_ONLY", "ignore") -> "Completed 0 0 old old",
    ("LOG_ONLY", "errorifexists") -> s"$existsFail old old",
    ("LOG_ONLY_max1", "overwrite") -> s"$overCapFail old old",
    ("LOG_ONLY_max1", "append") -> s"$overCapFail old old",
    ("LOG_ONLY_max1", "ignore") -> s"$overCapFail old old",
    ("LOG_ONLY_max1", "errorifexists") -> s"$overCapFail old old",
    ("LOG_ONLY_max5", "overwrite") -> "Completed 3 2 new old",
    ("LOG_ONLY_max5", "append") -> "Completed 3 2 both old",
    ("LOG_ONLY_max5", "ignore") -> "Completed 0 2 old old",
    ("LOG_ONLY_max5", "errorifexists") -> s"$existsFail old old",
    ("ROUTE_TO_FILE", "overwrite") -> "Completed 3 2 new new",
    ("ROUTE_TO_FILE", "append") -> "Completed 3 2 both new",
    // the error file is written even where the destination write is
    // skipped or refused
    ("ROUTE_TO_FILE", "ignore") -> "Completed 0 2 old new",
    ("ROUTE_TO_FILE", "errorifexists") -> s"$existsFail old new",
    ("ROUTE_TO_FILE_max1", "overwrite") -> s"$overCapFail old new",
    ("ROUTE_TO_FILE_max1", "append") -> s"$overCapFail old new",
    ("ROUTE_TO_FILE_max1", "ignore") -> s"$overCapFail old new",
    ("ROUTE_TO_FILE_max1", "errorifexists") -> s"$overCapFail old new")

  /** FAIL_JOB and ROUTE_TO_FILE over a source without bad rows. */
  private val cleanOutcomes: Map[(String, String), String] = Map(
    ("FAIL_JOB", "overwrite") -> "Completed 3 0 new old",
    ("FAIL_JOB", "append") -> "Completed 3 0 both old",
    ("FAIL_JOB", "ignore") -> "Completed 0 0 old old",
    ("FAIL_JOB", "errorifexists") -> s"$existsFail old old",
    ("ROUTE_TO_FILE", "overwrite") -> "Completed 3 0 new empty",
    ("ROUTE_TO_FILE", "append") -> "Completed 3 0 both empty")

  /** No destination and no error file before the load. */
  private val freshOutcomes: Map[String, String] = Map(
    "FAIL_JOB" -> s"$nullKeyFail none none",
    "ROUTE_TO_FILE" -> "Completed 3 2 new new")

  test("LOAD pin table: status, counts, destination listing and error CSV per strategy and saveMode") {
    val modes = Seq("overwrite", "append", "ignore", "errorifexists")
    val full = Seq("parquet", "csv", "parquet_keys")
    val cells =
      (for (d <- full; s <- loadStrategies.keys.toSeq.sorted; m <- modes)
        yield (d, s, m, false, loadNew, loadOutcomes((s, m)))) ++
      (for (d <- full; ((s, m), outcome) <- cleanOutcomes.toSeq) yield (d, s, m, false, loadClean, outcome)) ++
      (for (m <- modes; s <- Seq("FAIL_JOB", "ROUTE_TO_FILE"))
        yield ("parquet", s, m, true, loadNew, freshOutcomes(s))) ++
      (for (d <- Seq("csv_keys", "orc", "orc_keys", "json", "json_keys", "xml"); m <- Seq("overwrite", "append"))
        yield (d, "ROUTE_TO_FILE", m, false, loadNew, loadOutcomes(("ROUTE_TO_FILE", m))))
    loadPriors(cells.map(_._1).distinct)
    val wrong = cells.flatMap { case (d, s, m, fresh, src, outcome) =>
      val Array(status, dest, errors) = outcome.split(" (?=(old|new|both|empty|none)( |$))", 3)
      val want = s"$status [${loadListing(d, dest)}] [${loadIds(dest)}] [${loadErrors(errors)}]"
      val got = loadCell(d, s, m, fresh, src)
      if (got == want) None else Some(s"$d $s $m fresh=$fresh clean=${src == loadClean}\n  got  $got\n  want $want")
    }
    assert(wrong.isEmpty, s"${wrong.size} of ${cells.size} cells differ:\n${wrong.mkString("\n")}")
  }

  test("a staged LOAD that crashes leaves no staging dir, the old destination and error file, and reruns") {
    CrashFs.on(spark) {
      val work = tmpDir("load_crash")
      val dest = DestinationConfig("PARQUET",
        ConnectionDetails(path = Some(s"crashfs://$work/orders")))
      val route = ErrorHandling("ROUTE_TO_FILE", Some(s"$work/errors"))
      def run(id: String, src: String) = JobRunner.run(spark, loadJob(id, src, dest, route))
      def siblings = new java.io.File(work).list().toSet
      assert(run("crash-prior", loadOld).status == JobRunner.Completed)
      // the staged write throws
      val crashed = CrashFs.failing(spark, 1)(op => op.kind == "create" &&
          op.src.toString.contains("_orders_stage_")) { run("crash-write", loadNew) }
      assert(crashed.status.isInstanceOf[JobRunner.Failed], crashed.message)
      assert(siblings === Set("errors", "orders"), "no staging dir may stay behind")
      assert(destIds("parquet", s"$work/orders") === "100,101")
      assert(errorCsv(s"$work/errors") === loadErrors("old"))
      val rerun = run("crash-write-rerun", loadNew)
      assert((rerun.status, rerun.recordsWritten, rerun.recordsFailed) === ((JobRunner.Completed, 3L, 2L)))
      assert(destIds("parquet", s"$work/orders") === "1,4,5")
      assert(errorCsv(s"$work/errors") === loadErrors("new"))
      assert(listing(s"$work/orders") === loadListing("parquet", "new"))
      // the swap crashes after moving the destination aside
      val torn = CrashFs.failing(spark, 1)(swapIn) { run("crash-swap", loadOld) }
      assert(torn.status.isInstanceOf[JobRunner.Failed], torn.message)
      val fsPath = new org.apache.hadoop.fs.Path(s"crashfs://$work/orders")
      val stranded = graft.sinks.Commit.strandedSiblings(
        fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration), fsPath)
      assert(stranded.size === 1 && siblings === Set("errors", stranded.head),
        s"the moved-aside destination must be the only sibling left: $siblings")
      assert(destIds("parquet", s"$work/${stranded.head}") === "1,4,5")
      val again = run("crash-swap-rerun", loadOld)
      assert((again.status, again.recordsWritten, again.recordsFailed) === ((JobRunner.Completed, 2L, 1L)))
      assert(destIds("parquet", s"$work/orders") === "100,101")
    }
  }

  /** The rename of a staged LOAD's good side into the destination. */
  private def swapIn(op: CrashFs.Op) = op.kind == "rename" &&
    op.src.getName == "_graft_bad=false" && op.dst.getName == "orders"

  test("an append LOAD after a crashed overwrite keeps the earlier rows") {
    CrashFs.on(spark) {
      val work = tmpDir("load_append_crash")
      val dest = DestinationConfig("PARQUET",
        ConnectionDetails(path = Some(s"crashfs://$work/orders")))
      val route = ErrorHandling("ROUTE_TO_FILE", Some(s"$work/errors"))
      def run(id: String, src: String, mode: String) =
        JobRunner.run(spark, loadJob(id, src, dest.copy(saveMode = mode), route))
      assert(run("append-prior", loadOld, "overwrite").status == JobRunner.Completed)
      // the overwrite dies between moving the destination aside and
      // moving its own output in
      val torn = CrashFs.failing(spark, 1)(swapIn) { run("append-torn", loadClean, "overwrite") }
      assert(torn.status.isInstanceOf[JobRunner.Failed], torn.message)
      val r = run("append-after", loadNew, "append")
      assert((r.status, r.recordsWritten, r.recordsFailed) === ((JobRunner.Completed, 3L, 2L)))
      assert(destIds("parquet", s"$work/orders") === loadIds("both"),
        "the earlier rows plus the appended batch")
      assert(new java.io.File(work).list().toSet === Set("errors", "orders"),
        "no aside or staging dir may be left")
    }
  }
}
