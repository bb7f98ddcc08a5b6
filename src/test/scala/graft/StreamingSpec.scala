package graft

import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming twins must converge to the same result as the
  * oracle-backed batch queries once the bounded source is drained. */
class StreamingSpec extends SparkTestBase {

  /** File-source streams need a DIRECTORY; stage the events file into one. */
  private lazy val eventsPath: String = {
    val d = tmpDir("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    d
  }

  test("streaming upsert merges across micro-batches through the swap path") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val work = tmpDir("graft_upsert_stream_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    // two single-file halves: keys 0..49 carry version 1 in one file
    // and version 2 in the other, keys 50..99 only version 1 — with
    // maxFilesPerTrigger=1 the merge MUST happen across batches
    def half(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$work/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet"))
    }
    half("h0", spark.range(0, 100).selectExpr(
      "id AS k", "CAST(1 AS BIGINT) AS ver", "'a' AS v"))
    half("h1", spark.range(0, 50).selectExpr(
      "id AS k", "CAST(2 AS BIGINT) AS ver", "'b' AS v"))
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("ver", LongType), StructField("v", StringType)))
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val out = EventStreams.upsertStream(spark, stream, s"$work/dest",
      keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt")
    assert(out.count() == 100)
    // updated keys carry the newer version's payload, others the old
    assert(out.filter(col("k") < 50 && col("ver") === 2 && col("v") === "b").count() == 50)
    assert(out.filter(col("k") >= 50 && col("ver") === 1 && col("v") === "a").count() == 50)
    // the file source really split the feed: one committed offset per batch
    val batches = new java.io.File(s"$work/ckpt/offsets").listFiles()
      .count(f => !f.getName.startsWith("."))
    assert(batches >= 2, s"expected at least 2 micro-batches, saw $batches")
  }

  test("streaming upsert repairs a crashed swap and ignores leftover staging") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val work = tmpDir("graft_upsert_repair_")
    def feed(dirName: String, df: org.apache.spark.sql.DataFrame): String = {
      val srcDir = s"$work/$dirName"
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(srcDir))
      val tmp = s"$work/${dirName}_tmp"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, "f.parquet"))
      srcDir
    }
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("ver", LongType), StructField("v", StringType)))
    val src1 = feed("src1", spark.range(0, 100).selectExpr(
      "id AS k", "CAST(1 AS BIGINT) AS ver", "'a' AS v"))
    val dest = s"$work/dest"
    EventStreams.upsertStream(spark,
      spark.readStream.schema(sch).parquet(src1),
      dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt1")
    // simulate a crash between the two swap renames: one bucket's live
    // dir is gone, its pre-batch rows sit only in the aside dir — plus
    // a leftover staging dir from the "crashed" batch
    val destF = new java.io.File(dest)
    val bucket = destF.listFiles().find(_.getName.startsWith("_bucket=")).get
    val b = bucket.getName.stripPrefix("_bucket=")
    java.nio.file.Files.move(bucket.toPath,
      java.nio.file.Paths.get(dest, s"_stale_bucket_$b"))
    val stale = new java.io.File(s"$work/dest_stage_0")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stale.getPath, "junk.txt"), "leftover")
    // next run must first RESTORE the aside bucket, then merge batch 2
    val src2 = feed("src2", spark.range(200, 205).selectExpr(
      "id AS k", "CAST(1 AS BIGINT) AS ver", "'c' AS v"))
    val out = EventStreams.upsertStream(spark,
      spark.readStream.schema(sch).parquet(src2),
      dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt2")
    assert(out.count() == 105, "restored bucket rows + new batch must all survive")
    assert(out.filter(col("k") < 100).count() == 100,
      "the aside bucket's pre-crash rows must be restored, not lost")
    assert(!destF.listFiles().exists(_.getName.startsWith("_stale_bucket_")),
      "repair must clear the aside dir")
  }

  test("streaming upsert fails loudly on a pre-bucketing flat destination") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val work = tmpDir("graft_upsert_flatdest_")
    val dest = s"$work/dest"
    // a destination written by the old flat-parquet sink version
    spark.range(0, 10).selectExpr("id AS k", "CAST(1 AS BIGINT) AS ver", "'a' AS v")
      .write.parquet(dest)
    val srcDir = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(srcDir))
    val tmp = s"$work/src_tmp"
    spark.range(0, 5).selectExpr("id AS k", "CAST(2 AS BIGINT) AS ver", "'b' AS v")
      .coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(srcDir, "f.parquet"))
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("ver", LongType), StructField("v", StringType)))
    val ex = intercept[Exception] {
      EventStreams.upsertStream(spark,
        spark.readStream.schema(sch).parquet(srcDir),
        dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt")
    }
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        .filter(_ != null).toSeq
    assert(causes(ex).exists(_.contains("pre-bucketing")),
      s"expected the explicit layout-migration error, got: ${causes(ex)}")
  }

  test("streaming upsert re-buckets when buckets outgrow the target; marker wins over the param") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val work = tmpDir("graft_upsert_rebucket_")
    def feed(dirName: String, df: org.apache.spark.sql.DataFrame): String = {
      val srcDir = s"$work/$dirName"
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(srcDir))
      val tmp = s"$work/${dirName}_tmp"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, "f.parquet"))
      srcDir
    }
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("ver", LongType), StructField("v", StringType)))
    val dest = s"$work/dest"
    def marker(): Int = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dest, "_graft_nbuckets")).trim.toInt
    val src1 = feed("src1", spark.range(0, 200).selectExpr(
      "id AS k", "CAST(1 AS BIGINT) AS ver", "'a' AS v"))
    EventStreams.upsertStream(spark,
      spark.readStream.schema(sch).parquet(src1),
      dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt1",
      nBuckets = 4, targetBucketBytes = 256L)
    val n1 = marker()
    assert(n1 > 4, s"expected the layout to double past 4 buckets, marker says $n1")
    // the re-bucket rewrite keeps the merge's file layout: one part file per bucket
    val perBucket = partFilesPerBucket(dest)
    assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1),
      s"every bucket dir must hold exactly one part file after the doubling: $perBucket")
    // a later caller with a DIFFERENT nBuckets param must follow the
    // marker, not shear the layout — and the merge must stay correct
    val src2 = feed("src2", spark.range(0, 50).selectExpr(
      "id AS k", "CAST(2 AS BIGINT) AS ver", "'b' AS v"))
    val out = EventStreams.upsertStream(spark,
      spark.readStream.schema(sch).parquet(src2),
      dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt2",
      nBuckets = 4)
    assert(out.count() == 200)
    assert(out.filter(col("k") < 50 && col("ver") === 2 && col("v") === "b").count() == 50)
    assert(out.filter(col("k") >= 50 && col("ver") === 1).count() == 150)
    val dirs = new java.io.File(dest).listFiles()
      .filter(_.getName.startsWith("_bucket=")).map(_.getName).toSet
    assert(dirs.forall(_.stripPrefix("_bucket=").toInt < n1),
      s"bucket ids must come from the marker layout ($n1), got $dirs")
  }

  private val kvSchema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, ver BIGINT, v STRING")
  private def kv(from: Long, to: Long, ver: Long, v: String) =
    spark.range(from, to).selectExpr("id AS k", s"CAST($ver AS BIGINT) AS ver", s"'$v' AS v")

  test("a default upsertStream lays a new destination out at 32 buckets, one file each") {
    val work = tmpDir("graft_upsert_layout_")
    val dest = s"$work/dest"
    stageHalf(work, 0, kv(0, 200, 1, "a"))
    val out = EventStreams.upsertStream(spark, spark.readStream.schema(kvSchema).parquet(s"$work/src"),
      dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt")
    assert(bucketMarker(dest) === 32)
    val perBucket = partFilesPerBucket(dest)
    assert(perBucket.size === 32 && perBucket.values.forall(_ == 1),
      s"expected 32 bucket dirs with one part file each: $perBucket")
    assert(out.count() === 200)
  }

  test("the default layout doubles past the session's maxPartitionBytes without targetBucketBytes") {
    val small = spark.newSession()
    small.conf.set("spark.sql.files.maxPartitionBytes", "256")
    val work = tmpDir("graft_upsert_split_size_")
    stageHalf(work, 0, kv(0, 200, 1, "a"))
    def run(s: org.apache.spark.sql.SparkSession, name: String) =
      EventStreams.upsertStream(s, s.readStream.schema(kvSchema).parquet(s"$work/src"),
        s"$work/$name", keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt_$name")
    run(spark, "dest_default")
    val dest = s"$work/dest_small"
    val out = run(small, "dest_small")
    val (n0, n) = (bucketMarker(s"$work/dest_default"), bucketMarker(dest))
    assert(n > n0, s"a 256-byte split size must double the $n0-bucket layout, marker says $n")
    val perBucket = partFilesPerBucket(dest)
    assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1), perBucket.toString)
    assert(perBucket.keys.forall(_.stripPrefix("_bucket=").toInt < n), perBucket.toString)
    assert(out.count() === 200)
  }

  test("a marker-less 32-bucket destination keeps merging at 32 buckets under the default layout") {
    val work = tmpDir("graft_upsert_legacy_")
    val dest = s"$work/dest"
    // the layout this sink wrote before its marker existed
    kv(0, 200, 1, "a").withColumn("_bucket", EventStreams.upsertBucket(Seq("k"), 32))
      .write.partitionBy("_bucket").parquet(dest)
    def bucketDirs() = new java.io.File(dest).list().filter(_.startsWith("_bucket=")).toSet
    assert(bucketDirs().size === 32 && !new java.io.File(dest, "_graft_nbuckets").exists())
    stageHalf(work, 0, kv(0, 50, 2, "b"))
    val out = EventStreams.upsertStream(spark, spark.readStream.schema(kvSchema).parquet(s"$work/src"),
      dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt")
    assert(bucketMarker(dest) === 32)
    assert(bucketDirs() === (0 until 32).map(b => s"_bucket=$b").toSet)
    assert(spark.read.parquet(dest)
      .filter(col("_bucket") =!= EventStreams.upsertBucket(Seq("k"), 32)).count() === 0,
      "every row must stay in its key's 32-bucket")
    val want = (0L until 200L).map(k => if (k < 50) (k, 2L, "b") else (k, 1L, "a"))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
    assert(got === want, "read-back must equal keep-latest over the seed and the batch")
  }

  test("a new destination's first batch, crashed after one bucket rename, replays into its layout") {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    hadoopConf.set("fs.crashfs.impl", classOf[CrashingLocalFs].getName)
    try {
      val work = tmpDir("graft_upsert_first_crash_")
      val local = s"$work/dest"
      def run(nBuckets: Int) = EventStreams.upsertStream(spark,
        spark.readStream.schema(kvSchema).parquet(s"$work/src"),
        s"crashfs://$local", keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt",
        nBuckets = nBuckets)
      stageHalf(work, 0, kv(0, 100, 1, "a"))
      CrashingLocalFs.swapsLeft.set(1)
      try intercept[Exception](run(4)) finally CrashingLocalFs.swapsLeft.set(Int.MaxValue)
      assert(new java.io.File(local).list().count(_.startsWith("_bucket=")) === 1,
        "the crash must land after the first bucket rename")
      // the replay of batch 0, then batch 1, from a caller with the
      // default nBuckets: the 4-bucket layout must win
      stageHalf(work, 1, kv(0, 50, 2, "b"))
      val out = run(32)
      assert(bucketMarker(local) === 4)
      assert(spark.read.parquet(local)
        .filter(col("_bucket") =!= EventStreams.upsertBucket(Seq("k"), 4)).count() === 0,
        "every row must sit in its key's 4-bucket")
      val want = (0L until 100L).map(k => if (k < 50) (k, 2L, "b") else (k, 1L, "a"))
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted.toSeq
      assert(got === want, "read-back must equal keep-latest, one row per key")
    } finally hadoopConf.unset("fs.crashfs.impl")
  }

  /** Every job's stages while `body` runs. */
  private def jobsDuring(body: => Unit): Seq[Seq[org.apache.spark.scheduler.StageInfo]] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, StageInfo}
    import scala.jdk.CollectionConverters._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[StageInfo]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(j.stageInfos)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.GraftSqlBridge.drainListeners(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  /** Parquet schema inference reads footers in a job over a
    * `parallelize`d file list; no other job here has that RDD. */
  private def footerRead(stages: Seq[org.apache.spark.scheduler.StageInfo]): Boolean =
    stages.exists(_.rddInfos.exists(_.name == "ParallelCollectionRDD"))

  test("an upsert micro-batch on an existing destination runs no footer read and a one-stage touched set") {
    val work = tmpDir("graft_upsert_jobs_")
    val dest = s"$work/dest"
    def run() = EventStreams.upsertStream(spark,
      spark.readStream.schema(kvSchema).parquet(s"$work/src"),
      dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt")
    stageHalf(work, 0, kv(0, 100, 1, "a"))
    run()
    // the detector sees Spark's own schema inference
    assert(jobsDuring(spark.read.parquet(dest)).count(footerRead) === 1)
    stageHalf(work, 1, kv(0, 50, 2, "b"))
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { out = run() }
    assert(!jobs.exists(footerRead), s"footer-read job in the micro-batch: ${jobs.map(_.map(_.name))}")
    // stages per job, in order: the touched-bucket set (one stage, no
    // exchange), then the merge write, which AQE runs as two jobs: the
    // `_bucket` exchange's map stage, then the write stage (listed
    // with that map stage as its skipped parent)
    assert(jobs.map(_.length) === Seq(1, 1, 2),
      s"expected a one-stage touched set, then the merge: " +
        jobs.map(_.map(st => (st.stageId, st.parentIds))))
    assert(out.count() === 100)
    assert(out.filter(col("k") < 50 && col("ver") === 2 && col("v") === "b").count() === 50)
  }

  test("readEvents launches no Spark job and takes the schema spark.read.parquet infers") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    // the nanos-int64 `ts` vintage of the events fixture
    val nanosDir = tmpDir("graft_events_nanos_")
    val nanosFile = new org.apache.hadoop.fs.Path(s"$nanosDir/events.parquet")
    val pq = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); " +
        "required int64 user_id; optional binary event_type (STRING); optional double value; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(nanosFile,
      spark.sparkContext.hadoopConfiguration)).withType(pq).build()
    try {
      val g = new SimpleGroupFactory(pq)
      (1L to 3L).foreach(i => w.write(g.newGroup().append("event_id", i)
        .append("ts", 1704067200000000000L + i).append("user_id", i % 2)
        .append("event_type", "click").append("value", i * 0.5)))
    } finally w.close()
    // a Spark-written dir (`_SUCCESS`, `.crc`) plus hidden junk, and a
    // nanos-vintage file that sorts first: Spark's pick, whose schema differs
    val mixedDir = tmpDir("graft_events_mixed_")
    spark.read.parquet(eventsPath).coalesce(1).write.mode("overwrite").parquet(mixedDir)
    Seq("_junk", ".junk").foreach(n =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(mixedDir, n), "not parquet"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(nanosDir, "events.parquet"),
      java.nio.file.Paths.get(mixedDir, "a.parquet"))
    Seq(eventsPath, nanosDir, mixedDir).foreach { d =>
      val jobs = jobsDuring(EventStreams.readEvents(spark, d))
      assert(jobs.isEmpty, s"readEvents($d) ran ${jobs.length} Spark job(s)")
      assert(EventStreams.footerSchema(spark, d) === spark.read.parquet(d).schema, d)
    }
    assert(EventStreams.footerSchema(spark, mixedDir)("ts").dataType ===
      org.apache.spark.sql.types.LongType, "the nanos file sorts first and is Spark's pick")
    // a partitioned dir is left to Spark's own inference, partition column included
    val partDir = s"${tmpDir("graft_events_parted_")}/events"
    spark.read.parquet(eventsPath).write.partitionBy("event_type").parquet(partDir)
    assert(EventStreams.footerSchema(spark, partDir) === spark.read.parquet(partDir).schema)
    assert(EventStreams.footerSchema(spark, partDir).fieldNames.last === "event_type")
  }

  test("streaming sketch rollup: cross-batch merged state equals the one-shot batch sketch") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val work = tmpDir("graft_sketch_stream_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    def half(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$work/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet"))
    }
    // two batches with OVERLAPPING ids per group, so the union really
    // has to dedup across batches (append-style counting would
    // double-count ids 500..999 of group g0)
    half("h0", spark.range(0, 1000).selectExpr("'g0' AS g", "id AS v")
      .union(spark.range(0, 300).selectExpr("'g1' AS g", "id AS v")))
    half("h1", spark.range(500, 1500).selectExpr("'g0' AS g", "id AS v")
      .union(spark.range(100, 400).selectExpr("'g1' AS g", "id AS v")))
    val sch = StructType(Seq(StructField("g", StringType), StructField("v", LongType)))
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val state = EventStreams.sketchRollupStream(spark, stream, s"$work/dest",
      groupCols = Seq("g"), valueCol = "v", checkpoint = s"$work/ckpt")
    val streamed = state
      .selectExpr("g", "CAST(round(theta_sketch_estimate(sk)) AS BIGINT) AS est")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == Map("g0" -> 1500L, "g1" -> 400L),
      s"merged sketch must count the distinct union exactly below saturation: $streamed")
    // merged-state estimate == one-shot batch sketch over the same feed
    val batchSk = spark.read.schema(sch).parquet(src)
      .groupBy("g").agg(expr("theta_sketch_agg(v, 12)").as("sk"))
      .selectExpr("g", "CAST(round(theta_sketch_estimate(sk)) AS BIGINT) AS est")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == batchSk,
      s"cross-batch merge must equal the batch sketch: $streamed vs $batchSk")
    val batches = new java.io.File(s"$work/ckpt/offsets").listFiles()
      .count(f => !f.getName.startsWith("."))
    assert(batches >= 2, s"expected at least 2 micro-batches, saw $batches")
  }

  test("streaming upsert restores a destination stranded mid re-bucket swap") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val work = tmpDir("graft_upsert_dirswap_")
    def feed(dirName: String, df: org.apache.spark.sql.DataFrame): String = {
      val srcDir = s"$work/$dirName"
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(srcDir))
      val tmp = s"$work/${dirName}_tmp"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(srcDir, "f.parquet"))
      srcDir
    }
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("ver", LongType), StructField("v", StringType)))
    val dest = s"$work/dest"
    val src1 = feed("src1", spark.range(0, 100).selectExpr(
      "id AS k", "CAST(1 AS BIGINT) AS ver", "'a' AS v"))
    EventStreams.upsertStream(spark,
      spark.readStream.schema(sch).parquet(src1),
      dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt1")
    // simulate a whole-dir swap crash between the two renames: the
    // live destination is GONE, its full contents sit in `<dest>__old`
    java.nio.file.Files.move(java.nio.file.Paths.get(dest),
      java.nio.file.Paths.get(s"${dest}__old"))
    val src2 = feed("src2", spark.range(100, 105).selectExpr(
      "id AS k", "CAST(1 AS BIGINT) AS ver", "'b' AS v"))
    val out = EventStreams.upsertStream(spark,
      spark.readStream.schema(sch).parquet(src2),
      dest, keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt2")
    assert(out.count() == 105, "the stranded directory must be restored before the merge")
    assert(!new java.io.File(s"${dest}__old").exists(), "repair must consume the aside dir")
  }

  test("streaming top-k: later batches EVICT earlier rows from the bounded state") {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val work = tmpDir("graft_topk_stream_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    def half(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$work/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet"))
    }
    // batch 1: key 0 scores 10,20,30 (ids 1,2,3) — fills k=2 with
    // {30,20}; batch 2: scores 25,40 (ids 4,5) — 40 evicts 20, 25
    // bounces off the state. Final must be {30,40} = top-2 of the
    // UNION, proving the semilattice merge, not an append.
    half("h0", spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(0L, 1L, 10L), org.apache.spark.sql.Row(0L, 2L, 20L),
      org.apache.spark.sql.Row(0L, 3L, 30L))),
      StructType(Seq(StructField("k", LongType), StructField("id", LongType),
        StructField("score", LongType)))))
    half("h1", spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row(0L, 4L, 25L), org.apache.spark.sql.Row(0L, 5L, 40L))),
      StructType(Seq(StructField("k", LongType), StructField("id", LongType),
        StructField("score", LongType)))))
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("id", LongType), StructField("score", LongType)))
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val out = EventStreams.topKStream(spark, stream, s"$work/dest",
      keys = Seq("k"), orderCol = "score", tieCol = "id", k = 2,
      checkpoint = s"$work/ckpt")
    val kept = out.select("id", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((3L, 30L), (5L, 40L)),
      s"state must be top-2 of the union, got $kept")
    val batches = new java.io.File(s"$work/ckpt/offsets").listFiles()
      .count(f => !f.getName.startsWith("."))
    assert(batches >= 2, s"expected at least 2 micro-batches, saw $batches")
  }

  test("streaming JDBC upsert: cross-batch MERGE, replay is idempotent") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    graft.sources.Readers.ensureDerbyHome()
    val work = tmpDir("graft_jdbcup_stream_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    def half(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$work/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(src, s"$name.parquet"))
    }
    // duplicate versions per key WITHIN one file: the pre-MERGE batch
    // dedup must reduce them or Derby throws a cardinality violation
    half("h0", spark.range(0, 100).selectExpr(
        "id AS k", "CAST(1 AS BIGINT) AS ver", "'a' AS v")
      .unionAll(spark.range(0, 10).selectExpr(
        "id AS k", "CAST(0 AS BIGINT) AS ver", "'stale' AS v")))
    half("h1", spark.range(0, 50).selectExpr(
      "id AS k", "CAST(2 AS BIGINT) AS ver", "'b' AS v"))
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("ver", LongType), StructField("v", StringType)))
    val url = s"jdbc:derby:$work/db;create=true"
    def run(ckpt: String) = EventStreams.jdbcUpsertStream(spark,
      spark.readStream.schema(sch).option("maxFilesPerTrigger", 1).parquet(src),
      url, table = "T_LATEST", stagingTable = "T_STAGE",
      keys = Seq("k"), versionCol = "ver",
      ddl = "\"k\" BIGINT NOT NULL PRIMARY KEY, \"ver\" BIGINT, \"v\" VARCHAR(8)",
      checkpoint = s"$work/$ckpt",
      stagingColumnTypes = Some("v VARCHAR(8)"))
    val out = run("ckpt1")
    assert(out.count() == 100)
    assert(out.filter(col("k") < 50 && col("ver") === 2 && col("v") === "b").count() == 50)
    assert(out.filter(col("k") >= 50 && col("ver") === 1 && col("v") === "a").count() == 50)
    val batches = new java.io.File(s"$work/ckpt1/offsets").listFiles()
      .count(f => !f.getName.startsWith("."))
    assert(batches >= 2, s"expected at least 2 micro-batches, saw $batches")
    // full at-least-once replay (fresh checkpoint, same db): the MERGE
    // version guard must converge to the identical final state
    val replay = run("ckpt2")
    assert(replay.count() == 100)
    assert(replay.filter(col("k") < 50 && col("ver") === 2 && col("v") === "b").count() == 50)
    assert(replay.filter(col("k") >= 50 && col("ver") === 1 && col("v") === "a").count() == 50)
  }

  test("debounce state survives a RESTART from checkpoint (not just cross-batch)") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}
    val work = tmpDir("graft_debounce_restart_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def mkEvents(rows: Seq[(Long, Long, Long)]): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      rows.toDF("event_id", "user_id", "off_s")
        .select(col("event_id"), col("user_id"),
          (lit(base) / 1000 + col("off_s")).cast(TimestampType).as("ts"),
          lit("click").as("event_type"), lit(1.0).as("value"), lit("{}").as("props"))
    }
    def stage(name: String, df: org.apache.spark.sql.DataFrame, ageMs: Long): Unit = {
      val tmp = s"$work/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val staged = java.nio.file.Paths.get(src, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, staged)
      java.nio.file.Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    }
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    def runOnce(): org.apache.spark.sql.DataFrame = {
      val stream = spark.readStream.schema(sch).parquet(src)
      val out = EventStreams.debounceStream(stream, quietUs = 600L * 1000000L)(spark)
      val q = out.toDF().writeStream.format("parquet")
        .option("path", s"$work/out").option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.schema(StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType))))
        .parquet(s"$work/out")
    }
    // run 1: user 7's last event at t=1000s
    stage("h0", mkEvents(Seq((1L, 7L, 0L), (2L, 7L, 1000L))), ageMs = 10000)
    assert(runOnce().count() == 2) // 0 -> emit, 1000 (gap 1000s > 600) -> emit
    // RESTART (fresh query, same checkpoint): user 7 at t=1300s is
    // only 300s after the pre-restart event — recovered state must
    // suppress it; t=2000s (gap 700s) passes
    stage("h1", mkEvents(Seq((3L, 7L, 1300L), (4L, 7L, 2000L))), ageMs = 0)
    val finalOut = runOnce().collect().map(_.getLong(0)).toSet
    assert(finalOut == Set(1L, 2L, 4L),
      s"restart lost or corrupted debounce state: emitted $finalOut")
  }

  test("streaming tumbling window == batch events_tumbling_window") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val got = EventStreams.runToMemory(spark,
      EventStreams.tumblingCounts(stream), "t_tumble")
      .orderBy("window_start", "event_type").collect()
    val want = Queries.queries("events_tumbling_window")(spark, sf).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g.toSeq == w.toSeq) }
  }

  test("runToParquet (append + AvailableNow) emits exactly the watermark-closed windows") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val got = EventStreams.runToParquet(spark,
        EventStreams.tumblingCounts(stream), tmpDir("tumble_pq"))
      .orderBy("window_start", "event_type").collect()
    // append emission contract: windows with end <= max(ts) - 2h
    val wm = Tables.t(spark, sf, "events")
      .agg(max(col("ts")) - expr("INTERVAL 2 HOURS")).head().getTimestamp(0)
    val want = Queries.queries("events_tumbling_window")(spark, sf)
      .filter(col("window_start") + expr("INTERVAL 1 HOUR") <= lit(wm))
      .collect()
    assert(got.nonEmpty && got.length == want.length,
      s"got ${got.length} want ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g.toSeq == w.toSeq) }
  }

  test("streaming session windows == batch events_sessionize") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val got = EventStreams.runToMemory(spark,
      EventStreams.sessionize(stream), "t_sess")
      .orderBy("user_id", "session_start").collect()
    val want = Queries.queries("events_sessionize")(spark, sf).collect()
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g.toSeq == w.toSeq) }
  }

  test("streaming dedup drops repeat deliveries within the watermark, keeps one copy per id") {
    // stage the events file TWICE — a full duplicate redelivery, the
    // at-least-once failure mode dropDuplicatesWithinWatermark exists for
    val d = tmpDir("events_dup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$d/events_a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$d/events_b.parquet"))
    val got = EventStreams.runToMemory(spark,
      EventStreams.dedupEvents(EventStreams.readEvents(spark, d)), "t_dedup",
      OutputMode.Append())
    val nDistinct = Tables.t(spark, sf, "events").select("event_id").distinct().count()
    assert(got.count() == nDistinct,
      s"expected one copy per event id ($nDistinct), got ${got.count()}")
    assert(got.groupBy("event_id").count().filter(col("count") > 1).count() == 0)
  }

  test("mapGroupsWithState running stats converge to batch totals") {
    implicit val s = spark
    val stream = EventStreams.readEvents(spark, eventsPath)
    val got = EventStreams.runToMemory(spark,
      EventStreams.runningUserStats(stream).toDF(), "t_state",
      OutputMode.Update())
    // final state per user (last update) must equal the batch aggregate
    val finalPerUser = got.groupBy("user_id")
      .agg(max("n_events").as("n_events"))
      .orderBy("user_id").collect()
    val want = Tables.t(spark, sf, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .orderBy("user_id").collect()
    assert(finalPerUser.length == want.length)
    finalPerUser.zip(want).foreach { case (g, w) =>
      assert(g.getLong(0) == w.getLong(0) && g.getLong(1) == w.getLong(1))
    }
  }

  test("stream-stream interval join matches the batch interval join") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val got = EventStreams.runToMemory(spark,
      EventStreams.correlate(stream), "t_corr",
      outputMode = OutputMode.Append())
      .orderBy("l_id", "r_id").collect()
    val batch = Tables.t(spark, sf, "events")
    val l = batch.filter(col("event_type") === "signup")
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"), col("event_id").as("l_id"))
    val r = batch.filter(col("event_type") === "purchase")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"), col("event_id").as("r_id"))
    val want = l.join(r, col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") && col("r_ts") <= col("l_ts") + expr("INTERVAL 1 hour"))
      .select(col("l_user").as("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
      .orderBy("l_id", "r_id").collect()
    assert(got.length == want.length && got.length > 0)
    got.zip(want).foreach { case (g, w) => assert(g.toSeq == w.toSeq) }
  }

  test("left-outer stream-stream join emits unmatched rows after watermark passes") {
    // Stage batches by mtime so the watermark has advanced before the
    // final (empty-ish) batch evicts + emits unmatched left rows.
    val dir = tmpDir("louter")
    import spark.implicits._
    val base = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val maxTs = base.agg(max("ts")).collect()(0).getTimestamp(0)
    base.coalesce(1).write.parquet(s"$dir/in")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/in")).forEach { p =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    }
    // two nudge batches with a far-future event to push the watermark
    // beyond every signup's join window
    val future = new java.sql.Timestamp(maxTs.getTime + 24L * 3600 * 1000)
    Seq((99001L, future, 999L, "signup", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(s"$dir/in")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/in")).forEach { p =>
      val t = java.nio.file.Files.getLastModifiedTime(p).toMillis
      if (t > System.currentTimeMillis() - 50000)
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 30000))
    }
    Seq((99002L, future, 999L, "signup", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(s"$dir/in")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/in")).forEach { p =>
      val t = java.nio.file.Files.getLastModifiedTime(p).toMillis
      if (t > System.currentTimeMillis() - 20000)
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 15000))
    }
    // fourth batch: the future-watermark only becomes the operative
    // eviction filter two batches after the data that set it
    Seq((99003L, future, 999L, "signup", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(s"$dir/in")

    val stream = spark.readStream.schema(base.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in")
    val joined = EventStreams.correlate(stream, joinType = "leftOuter")
    val q = joined.writeStream.format("memory").queryName("t_louter")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("t_louter")
    val unmatchedGot = got.filter(col("r_id").isNull).count()
    // batch ground truth: signups with no purchase in the next hour
    val l = base.filter(col("event_type") === "signup")
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"), col("event_id").as("l_id"))
    val r = base.filter(col("event_type") === "purchase")
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"))
    val wantRows = l.join(r, col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") && col("r_ts") <= col("l_ts") + expr("INTERVAL 1 hour"),
      "left_anti")
    val unmatchedWant = wantRows.count()
    if (unmatchedGot != unmatchedWant) {
      val gotIds = got.filter(col("r_id").isNull).select("l_id").collect().map(_.getLong(0)).toSet
      val missing = wantRows.collect().filterNot(r2 => gotIds(r2.getAs[Long]("l_id")))
      missing.foreach(r2 => info(s"MISSING: $r2 (maxTs=$maxTs)"))
      val missIds = missing.map(_.getAs[Long]("l_id")).toSeq
      got.filter(col("l_id").isin(missIds: _*)).collect()
        .foreach(r2 => info(s"GOT-AS: $r2"))
      q.recentProgress.foreach(p2 => info(
        s"batch=${p2.batchId} rows=${p2.numInputRows} wm=${p2.eventTime.get("watermark")} " +
          s"stateRows=${p2.stateOperators.map(_.numRowsTotal).mkString(",")}"))
      got.filter(col("r_id").isNull).orderBy(desc("l_ts")).limit(3).collect()
        .foreach(r2 => info(s"LATEST-EMITTED-UNMATCHED: $r2"))
    }
    assert(unmatchedGot == unmatchedWant,
      s"unmatched emitted=$unmatchedGot want=$unmatchedWant")
    assert(unmatchedGot > 0, "corpus should contain signups without follow-up purchases")
  }

  test("stream-static join enriches events with a dimension table") {
    val stream = EventStreams.readEvents(spark, eventsPath)
    val userDim = Tables.t(spark, sf, "events")
      .select(col("user_id")).distinct()
      .withColumn("user_tag", concat(lit("u"), col("user_id")))
    val enriched = stream.join(userDim, "user_id")
      .groupBy("user_tag").agg(count(lit(1)).as("n"))
    val got = EventStreams.runToMemory(spark, enriched, "t_enrich")
    val want = Tables.t(spark, sf, "events").groupBy("user_id").count().count()
    assert(got.count() == want) // one tag per user
    assert(got.agg(sum("n")).collect()(0).getLong(0) == 1000L)
  }

  test("streaming near-dup gate flags the same arrivals as the batch band-collision join") {
    import graft.operators.Dedup
    val docs = Tables.t(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val sketch = Dedup.signatureBandRows(corpus, "doc_id", "text")
    // stream the FRESH batch from a staged directory
    val freshDir = tmpDir("fresh_docs")
    docs.filter(col("doc_id") % 10 === 0).write.mode("overwrite").parquet(freshDir)
    val stream = spark.readStream
      .schema(docs.schema)
      .parquet(freshDir)
    val flagged = EventStreams.flagNearDupArrivals(stream, sketch)
    val got = EventStreams.runToMemory(spark, flagged, "t_neardup_gate",
        OutputMode.Append())
      .collect().map(_.getLong(0)).toSet
    // batch twin: same band-collision semi-join, same sketch
    val want = Dedup.signatureBandRows(docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
      .join(sketch.select("band", "band_key"), Seq("band", "band_key"), "left_semi")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture must exercise at least one collision")
    // every exact-verified incremental pair's fresh doc was flagged
    val verified = Dedup.incrementalNearDups(corpus, docs.filter(col("doc_id") % 10 === 0),
      "doc_id", "text").select("fresh_id").collect().map(_.getLong(0)).toSet
    assert(verified.subsetOf(got))
  }

  test("streaming bloom decontamination gate flags the same arrivals as the batch probe") {
    val docs = Tables.t(spark, sf, "documents")
    val eval_ = docs.filter(col("doc_id") % 25 === 0)
    val bytes = EventStreams.evalBloomBytes(eval_)
    val freshDir = tmpDir("fresh_decon")
    docs.filter(col("doc_id") % 25 =!= 0).write.mode("overwrite").parquet(freshDir)
    val stream = spark.readStream.schema(docs.schema).parquet(freshDir)
    val got = EventStreams.runToMemory(spark,
        EventStreams.flagContaminatedArrivals(stream, bytes), "t_bloom_gate",
        OutputMode.Append())
      .collect().map(_.getLong(0)).toSet
    // batch twin: identical probe over the same filter bytes
    val want = EventStreams.flagContaminatedArrivals(
        docs.filter(col("doc_id") % 25 =!= 0), bytes)
      .collect().map(_.getLong(0)).toSet
    assert(got == want)
    // the gate may never lose a truly contaminated doc (no false negatives)
    val contaminated = graft.operators.Contamination.flagContaminated(
        docs.filter(col("doc_id") % 25 =!= 0), eval_, "doc_id", "text", n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(contaminated.nonEmpty && contaminated.subsetOf(got))
  }

  test("foreachBatch sink writes each microbatch transactionally") {
    val dir = tmpDir("febatch")
    val stream = EventStreams.readEvents(spark, eventsPath)
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val q = stream.writeStream
      .outputMode(OutputMode.Complete())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/out")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val back = spark.read.parquet(s"$dir/out")
    val want = Tables.t(spark, sf, "events").groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(back.orderBy("event_type").collect().map(_.toSeq).toSeq ==
      want.orderBy("event_type").collect().map(_.toSeq).toSeq)
  }

  test("streaming JDBC load: micro-batches append into a live Derby table") {
    graft.sources.Readers.ensureDerbyHome()
    val url = s"jdbc:derby:${tmpDir("sjdbc")}/db;create=true"
    val dest = graft.model.DestinationConfig("JDBC",
      graft.model.ConnectionDetails(jdbcUrl = Some(url), tableName = Some("EVENTS_LOAD"),
        createTableColumnTypes = Some("event_type VARCHAR(32)")), batchSize = 200)
    val stream = EventStreams.readEvents(spark, eventsPath)
      .select("event_id", "event_type", "value")
    val q = EventStreams.jdbcLoadStream(stream, dest)
    q.awaitTermination()
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "EVENTS_LOAD").load()
    val want = Tables.t(spark, sf, "events").select("event_id", "event_type", "value")
    assert(back.count() == want.count())
    assert(back.orderBy("event_id").collect().map(_.toSeq).toSeq ==
      want.orderBy("event_id").collect().map(_.toSeq).toSeq)
  }

  test("late data beyond the watermark is dropped (append mode)") {
    // Two-batch file source: batch 1 = events, batch 2 = one very-late
    // event. With a 2h watermark advanced past it by batch 1's max ts,
    // the late row must not produce a new window in append output.
    val dir = tmpDir("late")
    import spark.implicits._
    val base = Tables.t(spark, sf, "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val maxTs = base.agg(max("ts")).collect()(0).getTimestamp(0)
    base.coalesce(1).write.parquet(s"$dir/in1") // batch 1 (single file: deterministic order)
    // FileStreamSource orders by modification time — backdate the base
    // files so the late file (written next) is always batch 1.
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/in1")).forEach { p =>
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    }
    // The watermark computed from batch N's data only becomes the
    // operative filter in batch N+2 (observed: progress reports it at
    // N+1 but numRowsDroppedByWatermark stays 0). Interpose an on-time
    // batch so the late row arrives once the filter is armed.
    Seq((99998L, maxTs, 2L, "ontime", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(s"$dir/in1")
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/in1")).forEach { p =>
      val t = java.nio.file.Files.getLastModifiedTime(p).toMillis
      if (t > System.currentTimeMillis() - 50000)
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 30000))
    }
    val lateTs = new java.sql.Timestamp(maxTs.getTime - 10L * 3600 * 1000)
    Seq((99999L, lateTs, 1L, "late", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(s"$dir/in1")
    val stream = spark.readStream
      .schema(base.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in1")
    val agg = stream
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("t_late")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.recentProgress.foreach(p => info(
      s"batch=${p.batchId} rows=${p.numInputRows} watermark=${p.eventTime.get("watermark")} " +
        s"dropped=${p.stateOperators.map(_.numRowsDroppedByWatermark).mkString(",")}"))
    val lateRows = spark.table("t_late").filter(col("event_type") === "late").count()
    assert(lateRows == 0, "event 10h behind the watermark must be dropped")
  }

  test("dedup state is EVICTED past the watermark (bounded, measured)") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}
    val work = tmpDir("graft_dedup_evict_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def mk(name: String, ids: Range, offMs: Long, ageMs: Long): Unit = {
      import spark.implicits._
      val df = ids.map(i => (i.toLong, new java.sql.Timestamp(t0 + offMs),
        i.toLong, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val tmp = s"$work/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val staged = java.nio.file.Paths.get(src, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, staged)
      java.nio.file.Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    }
    // batch 1: ids 0-999 at T0; batch 2: ids 1000-1999 at T0+10h.
    // With a 2h watermark, batch 2 advances it to T0+8h — every
    // batch-1 key is past eviction before the final batch runs.
    mk("h0", 0 until 1000, 0L, ageMs = 20000)
    mk("h1", 1000 until 2000, 10L * 3600 * 1000, ageMs = 0)
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    val stream = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val deduped = EventStreams.dedupEvents(stream, watermark = "2 hours")
      .select("event_id")
    val q = deduped.writeStream.format("memory").queryName("t_evict")
      .outputMode(OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(spark.table("t_evict").count() == 2000, "all distinct ids must emit")
    // the CLAIM under test: state is bounded by the watermark delay,
    // not stream history — the last progress's state rows must hold
    // only the live (batch-2) keys, the 1000 evicted keys gone
    val lastState = q.recentProgress.reverse
      .find(_.stateOperators.nonEmpty).get.stateOperators.map(_.numRowsTotal).sum
    assert(lastState <= 1000,
      s"state holds $lastState rows — batch-1 keys were not evicted")
  }

  test("transformWithState quota gate: alert exactly once, state survives batches") {
    implicit val s = spark
    import spark.implicits._
    // transformWithState supports only the RocksDB provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
      val events = in.toDF().toDF("user_id", "value")
        .withColumn("event_type", lit("purchase"))
      val alerts = EventStreams.quotaAlerts(events, thresholdCents = 10000L)
      val q = alerts.toDF().writeStream.format("memory").queryName("t_quota")
        .outputMode(OutputMode.Update()).start()
      in.addData((1L, 60.0), (2L, 30.0)) // both below 100.00
      q.processAllAvailable()
      in.addData((1L, 50.0), (2L, 30.0)) // user 1 crosses at 110.00; user 2 at 60.00
      q.processAllAvailable()
      in.addData((1L, 20.0), (2L, 45.0)) // user 1 already alerted; user 2 crosses at 105.00
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_quota")
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq((1L, 11000L, 2L), (2L, 10500L, 3L)),
        s"expected one alert per user at the crossing batch, got $got")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("session timeout: a timer fires when ANOTHER user's events advance the watermark") {
    implicit val s = spark
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
      val events = in.toDF().toDF("user_id", "off_s")
        .select(col("user_id"),
          (lit(base) + col("off_s")).cast(
            org.apache.spark.sql.types.TimestampType).as("ts"))
      val out = EventStreams.sessionTimeoutStream(events,
        gapUs = 3600L * 1000000L, watermarkDelay = "10 minutes")
      val q = out.toDF().writeStream.format("memory").queryName("t_sess_to")
        .outputMode(OutputMode.Append()).start()
      // batch 1: user 1 has a 2-event session; no successor ever comes
      in.addData((1L, 0L), (1L, 60L))
      q.processAllAvailable()
      assert(spark.table("t_sess_to").count() == 0,
        "session must stay open while the watermark is behind its expiry")
      // batch 2: USER 2, a day later — the watermark jump (1d - 10min)
      // passes user 1's expiry (last + 1h); only the TIMER can emit
      // user 1's summary, no user-1 row ever arrives again
      in.addData((2L, 86400L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_sess_to").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(got == Set((1L, 2L)),
        s"expected user 1's session emitted by timer, got $got")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("anomaly stream: moments survive a RESTART from checkpoint") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampType}
    val work = tmpDir("graft_anomaly_restart_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def mkEvents(rows: Seq[(Long, Double)]): org.apache.spark.sql.DataFrame = {
      import spark.implicits._
      rows.toDF("event_id", "value")
        .select(col("event_id"), lit(1L).as("user_id"),
          (lit(base) / 1000 + col("event_id")).cast(TimestampType).as("ts"),
          lit("click").as("event_type"), col("value"), lit("{}").as("props"))
    }
    def stage(name: String, df: org.apache.spark.sql.DataFrame, ageMs: Long): Unit = {
      val tmp = s"$work/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val staged = java.nio.file.Paths.get(src, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, staged)
      java.nio.file.Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    }
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    def runOnce(): org.apache.spark.sql.DataFrame = {
      val stream = spark.readStream.schema(sch).parquet(src)
      val out = EventStreams.anomalyStream(stream, minN = 3)(spark)
      val q = out.toDF().writeStream.format("parquet")
        .option("path", s"$work/out").option("checkpointLocation", s"$work/ckpt")
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.schema(StructType(Seq(StructField("event_id", LongType),
        StructField("event_type", StringType), StructField("q", LongType),
        StructField("n_prev", LongType)))).parquet(s"$work/out")
    }
    // run 1: three steady values — nothing flaggable (n < minN throughout)
    stage("h0", mkEvents(Seq((1L, 1.0), (2L, 1.0), (3L, 1.0))), ageMs = 10000)
    assert(runOnce().count() == 0)
    // RESTART (fresh query, same checkpoint): the spike at event 4 is
    // only anomalous against the RECOVERED (n=3, S=3000, Q=3e6)
    // moments — a lost state would leave n=0 < minN and emit nothing
    stage("h1", mkEvents(Seq((4L, 2.0), (5L, 1.0))), ageMs = 0)
    val got = runOnce().collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got == Set((4L, 3L)),
      s"restart lost or corrupted anomaly moments: emitted $got")
  }

  test("anomaly stream: flags depend on moments accumulated in EARLIER batches") {
    implicit val s = spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
    val events = in.toDF().toDF("event_id", "value")
      .select(col("event_id"), col("value"),
        (lit(base) + col("event_id")).cast(
          org.apache.spark.sql.types.TimestampType).as("ts"),
        lit("click").as("event_type"))
    val flags = EventStreams.anomalyStream(events, minN = 3)
    val q = flags.toDF().writeStream.format("memory").queryName("t_anom")
      .outputMode(OutputMode.Append()).start()
    // batch 1: three steady values — n never reaches minN before any
    // of them, so nothing can be flagged
    in.addData((1L, 1.0), (2L, 1.0), (3L, 1.0))
    q.processAllAvailable()
    assert(spark.table("t_anom").count() == 0)
    // batch 2: a spike then a return to normal. Flagging the spike
    // REQUIRES the (n=3, S=3000, Q=3e6) moments from batch 1:
    //   q=2000: d = 2000*3-3000 = 3000, v = 3*3e6 - 3000^2 = 0,
    //   d^2 > 9v  ->  flag.
    //   then q=1000 vs n=4,S=5000,Q=7e6: d^2 = 1e6 < 9*3e6 -> pass.
    in.addData((4L, 2.0), (5L, 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_anom").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((4L, 2000L, 3L)),
      s"expected exactly the cross-batch spike flag, got $got")
  }

  test("recent path is ORDER-ROBUST: out-of-order batch replay converges to the event-time path") {
    implicit val s = spark
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      // (us, event_id, type): batch 2 delivers events EARLIER in
      // event time than batch 1 — the semilattice merge must still
      // land on the newest-3-by-(us, event_id) path, not append-order
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, String)]
      val events = in.toDF().toDF("us", "event_id", "event_type")
        .withColumn("ts", timestamp_micros(col("us")))
        .withColumn("user_id", lit(7L))
      val q = EventStreams.recentPathStream(events).toDF()
        .writeStream.format("memory").queryName("t_rpath")
        .outputMode(OutputMode.Update()).start()
      in.addData((40L, 4L, "d"), (50L, 5L, "e"))
      q.processAllAvailable()
      in.addData((10L, 1L, "a"), (30L, 3L, "c"), (20L, 2L, "b")) // all LATE
      q.processAllAvailable()
      in.addData((45L, 6L, "x")) // lands between d and e
      q.processAllAvailable()
      q.stop()
      val paths = spark.table("t_rpath").collect().map(_.getString(1)).toSeq
      // per-batch emissions: after b1 d>e; after the late batch the
      // newest three are STILL c>d>e (a, b evicted); after b3 d>x>e
      assert(paths == Seq("d>e", "c>d>e", "d>x>e"), paths.toString)
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("initial state seeds ValueState; silent seeded users emit nothing; state accrues across batches") {
    implicit val s = spark
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      // history: user 1 has 5 events, user 3 has 7 (never streams)
      val history = Seq.fill(5)(1L).map(u => (u, "x")).union(Seq.fill(7)(3L).map(u => (u, "x")))
        .toDF("user_id", "pad")
      val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
      val stream = in.toDF().toDF("user_id")
      val out = EventStreams.bootstrapCountStream(stream, history)
      val q = out.toDF().writeStream.format("memory").queryName("t_boot")
        .outputMode(OutputMode.Update()).start()
      in.addData(1L, 1L, 2L) // user 1: 5 seeded + 2 = 7; user 2: unseeded = 1
      q.processAllAvailable()
      in.addData(1L)         // cross-batch: 7 + 1 = 8
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_boot")
        .groupBy("user_id").agg(max("total").as("t"))
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 8L), (2L, 1L)),
        s"expected seeded totals (1->8, 2->1) and NO row for silent user 3, got $got")
    } finally {
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("driftPsiStream stays quiet on a replica batch and fires on a collapsed one") {
    import org.apache.spark.sql.functions._
    val work = tmpDir("graft_psi_stream_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    // reference era: 1000 values uniform over bands 0..9 (value = id % 500)
    val ref = spark.range(0, 1000)
      .select((col("id") % 500).cast("double").as("value"))
    val refHist = ref
      .select(expr("CAST(floor(value / 50) AS BIGINT)").as("band"))
      .groupBy("band").agg(count(lit(1)).as("r"))
    def stage(name: String, df: org.apache.spark.sql.DataFrame, ageMs: Long): Unit = {
      val tmp = s"$work/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val staged = java.nio.file.Paths.get(src, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, staged)
      java.nio.file.Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    }
    stage("h0", ref, 10000L)                     // batch 0: exact replica of the reference
    stage("h1", spark.range(0, 1000)             // batch 1: every value collapsed into band 0
      .select(lit(7.0).as("value")), 0L)
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType))))
      .option("maxFilesPerTrigger", 1).parquet(src)
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.streaming.EventStreams.driftPsiStream(spark, stream, refHist,
      s"$work/out", s"$work/ckpt", bandWidth = 50.0)
    // the reference spine is checkpointed for the run and freed when it ends
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- persisted
    assert(leaked.isEmpty, s"driftPsiStream left persisted RDDs behind: $leaked")
    val rows = out.orderBy("batch_id").collect()
    assert(rows.length === 2)
    val quiet = rows(0).getAs[Long]("psi_micro")
    val fired = rows(1).getAs[Long]("psi_micro")
    // replica: only +1-smoothing noise; collapsed: far past the 0.2 alert line
    assert(math.abs(quiet) < 10000, s"replica batch should read ~0, got $quiet")
    assert(fired > 200000L, s"collapsed batch should fire, got $fired")
    assert(rows(1).getAs[Long]("n_events") === 1000L)
  }

  test("attribution state crosses micro-batches: later purchases credit earlier touches") {
    import org.apache.spark.sql.types._
    val work = tmpDir("graft_attr_stream_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    def stage(name: String, df: org.apache.spark.sql.DataFrame, ageMs: Long): Unit = {
      val tmp = s"$work/$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val staged = java.nio.file.Paths.get(src, s"$name.parquet")
      java.nio.file.Files.move(part.toPath, staged)
      java.nio.file.Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    }
    // batch 0: ONLY touches; batch 1: ONLY purchases — attribution
    // is possible solely through state carried across the batches
    stage("h0", spark.sql(
      "SELECT 1L AS event_id, TIMESTAMP '2024-01-01 00:00:00' AS ts, 7L AS user_id, " +
        "'view' AS event_type, 0.0D AS value, '' AS props " +
        "UNION ALL SELECT 2L, TIMESTAMP '2024-01-01 00:01:00', 7L, 'click', 0.0D, '' " +
        "UNION ALL SELECT 3L, TIMESTAMP '2024-01-01 00:00:30', 8L, 'error', 0.0D, ''"),
      10000L)
    stage("h1", spark.sql(
      "SELECT 10L AS event_id, TIMESTAMP '2024-01-01 01:00:00' AS ts, 7L AS user_id, " +
        "'purchase' AS event_type, 2.5D AS value, '' AS props " +
        "UNION ALL SELECT 11L, TIMESTAMP '2024-01-01 01:00:00', 8L, 'purchase', 4.0D, ''"),
      0L)
    val out = EventStreams.runToParquet(spark,
      EventStreams.attributionStream(
        EventStreams.readEvents(spark, src, maxFilesPerTrigger = Some(1)))(spark).toDF(),
      s"$work/run", statePartitions = Some(4))
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[String]("channel"), r.getAs[Long]("cents")))).toMap
    // user 7's purchase (batch 1) credits the click from batch 0 —
    // the LAST touch, not the earlier view; user 8 had no touch
    assert(out(10L) === (("click", 250L)))
    assert(out(11L) === (("direct", 400L)))
    assert(out.size === 2)
  }

  test("nearDupStream equals the one-shot dedup across the batch boundary") {
    // doc 1 (batch 0) and doc 2 (batch 1) are near-copies: their pair
    // can ONLY be found through the persisted sketch state; docs 3+4
    // (both batch 0) pin the batch-internal path; doc 5 matches nothing
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india kilo"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "one two three four five six seven eight nine eleven"),
      (5L, "nothing shares anything with the rest of this feed at all"))
      .toDF("doc_id", "text")
    val work = tmpDir("graft_nd_stream_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    Seq(0 -> Seq(1L, 3L, 4L), 1 -> Seq(2L, 5L)).foreach { case (h, ids) =>
      val half = s"$work/h$h"
      docs.filter(col("doc_id").isin(ids: _*)).coalesce(1).write.parquet(half)
      val part = new java.io.File(half).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val staged = java.nio.file.Paths.get(src, s"h$h.parquet")
      java.nio.file.Files.move(part.toPath, staged)
      java.nio.file.Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (1 - h) * 10000L))
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val streamed = EventStreams.nearDupStream(spark, stream,
        s"$work/out", s"$work/state", s"$work/ckpt")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val oneShot = graft.operators.Dedup
      .minhashNearDups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === oneShot)
    // the boundary pair (1,2) is present — it flowed through state
    assert(streamed.exists(p => p._1 == 1L && p._2 == 2L), s"got $streamed")
    assert(streamed.exists(p => p._1 == 3L && p._2 == 4L), s"got $streamed")
  }

  test("nearDupStream crash replay: committed batches skip, state and pairs unchanged") {
    // exactly-once pin (VERDICT r16 #1): re-delivering BOTH batches
    // against committed state — including one simulated partial crash
    // — leaves the emitted pairs AND the persisted doc/sketch state
    // row-identical to the clean run, where the old append sink would
    // have doubled them
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india kilo"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "one two three four five six seven eight nine eleven"))
      .toDF("doc_id", "text")
    val work = tmpDir("graft_nd_replay_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    Seq(0 -> Seq(1L, 3L), 1 -> Seq(2L, 4L)).foreach { case (h, ids) =>
      val half = s"$work/h$h"
      docs.filter(col("doc_id").isin(ids: _*)).coalesce(1).write.parquet(half)
      val part = new java.io.File(half).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val staged = java.nio.file.Paths.get(src, s"h$h.parquet")
      java.nio.file.Files.move(part.toPath, staged)
      java.nio.file.Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (1 - h) * 10000L))
    }
    def run(ckpt: String): Set[(Long, Long, Long)] = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      EventStreams.nearDupStream(spark, stream,
          s"$work/out", s"$work/state", ckpt)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    def stateCounts(): (Long, Long) = (
      spark.read.parquet(s"$work/state/docs").count(),
      spark.read.parquet(s"$work/state/sketch").count())
    val first = run(s"$work/ckpt1")
    val (nDocs, nSketch) = stateCounts()
    assert(first.exists(p => p._1 == 1L && p._2 == 2L), s"boundary pair missing: $first")
    assert(nDocs === 4L)
    // full re-delivery: a fresh checkpoint replays batch ids 0 and 1
    // from the start; both are committed, so everything skips whole
    val second = run(s"$work/ckpt2")
    assert(second === first)
    assert(stateCounts() === ((nDocs, nSketch)))
    // partial crash: batch 1's sketch write "crashed" (marker gone) —
    // the replay must drop the partial, recompute batch 1 from the
    // pre-batch state, and converge to the identical result
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(
      s"$work/state/sketch/batch=1/_SUCCESS"), false))
    val third = run(s"$work/ckpt3")
    assert(third === first)
    assert(stateCounts() === ((nDocs, nSketch)))
  }

  test("dupSpanStream: a gram recurring across 3+ batches probes a deduplicated index") {
    // ADVICE r16 (high): from the third batch on, a gram present in
    // >= 2 earlier batches holds one summary row PER batch in the
    // appended state — an un-deduplicated index join would duplicate
    // the covered positions, fragment the islands window, and here
    // shatter the single 8-token span into sub-minTokens fragments
    // (emitting NOTHING). Three identical docs across three batches
    // pin the fix, and a checkpoint-reset replay pins idempotence.
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val work = tmpDir("graft_ds_3batch_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    Seq(0, 1, 2).foreach { h =>
      val half = s"$work/h$h"
      docs.filter(col("doc_id") === h + 1).coalesce(1).write.parquet(half)
      val part = new java.io.File(half).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val staged = java.nio.file.Paths.get(src, s"h$h.parquet")
      java.nio.file.Files.move(part.toPath, staged)
      java.nio.file.Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - (2 - h) * 10000L))
    }
    def run(ckpt: String): Seq[(Long, Long, Long)] = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      EventStreams.dupSpanStream(spark, stream,
          s"$work/out", s"$work/state", ckpt, k = 3, minTokens = 5)
        .orderBy("doc_id", "start_pos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val first = run(s"$work/ckpt1")
    // arrival-time semantics: doc 1 saw no prior copy; docs 2 and 3
    // each emit the ONE maximal span (start 1, 8 tokens) — doc 3's
    // probe hits the gram index twice per gram and must still emit
    // exactly one unfragmented span
    assert(first === Seq((2L, 1L, 8L), (3L, 1L, 8L)))
    // the state holds one summary row per (gram, batch): 6 grams x 3
    // batches — the multiplicity the probe must collapse
    assert(spark.read.parquet(s"$work/state").count() === 18L)
    val second = run(s"$work/ckpt2")
    assert(second === first)
    assert(spark.read.parquet(s"$work/state").count() === 18L)
  }

  test("compactBatchState: union fold preserves stateBefore semantics; " +
    "latest keeps the newest snapshot; a crashed compaction repairs both ways") {
    import spark.implicits._
    val work = tmpDir("graft_compact_state_")
    val dir = s"$work/state"
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeBatch(id: Long, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/batch=$id")
    writeBatch(0L, Seq((1L, "a"), (2L, "b")))
    writeBatch(1L, Seq((3L, "c")))
    writeBatch(2L, Seq((4L, "d")))
    def all() = spark.read.parquet(dir).drop("batch").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val before = all()
    // union fold: ids strictly below the newest consolidate under the
    // SECOND-newest id; the newest partition is spared (ADVICE r17 —
    // it may be a sibling dir's mid-crash batch whose retry needs
    // this dir's prior state intact)
    assert(EventStreams.compactBatchState(spark, dir, "union") === 1L)
    assert(all() === before)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).toSeq.sorted
    assert(parts === Seq("batch=1", "batch=2"), s"got $parts")
    // the newest partition's own rows are untouched
    assert(spark.read.parquet(dir).filter(col("batch") === 2).drop("batch")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet === Set((4L, "d")))
    // a future batch's prior-state view is unchanged
    assert(spark.read.parquet(dir).filter(col("batch") < 3).drop("batch")
      .count() === before.size.toLong)
    assert(EventStreams.compactBatchState(spark, dir, "union") === 0L) // idempotent
    // crashed compaction, stage INCOMPLETE: rolls back (source wins)
    writeBatch(3L, Seq((5L, "e")))
    val stage = new org.apache.hadoop.fs.Path(s"$dir/_compact_stage")
    fs.mkdirs(stage) // no _SUCCESS, no target — a mid-write crash
    assert(EventStreams.compactBatchState(spark, dir, "union") === 1L)
    assert(!fs.exists(stage))
    assert(all() === before + ((5L, "e")))
    // crashed compaction, stage COMPLETE: repair rolls FORWARD
    writeBatch(4L, Seq((6L, "f")))
    Seq((9L, "z")).toDF("doc_id", "text").write.parquet(stage.toString)
    val out = fs.create(new org.apache.hadoop.fs.Path(stage, "_compact_target"), true)
    out.write("4".getBytes("UTF-8")); out.close()
    EventStreams.compactBatchState(spark, dir, "union") // repair runs first
    assert(all() === Set((9L, "z"))) // the complete stage IS the committed truth
    // latest fold: snapshots — only the newest survives
    val snap = s"$work/snaps"
    Seq((1L, "s0")).toDF("doc_id", "text").write.parquet(s"$snap/batch=0")
    Seq((1L, "s1")).toDF("doc_id", "text").write.parquet(s"$snap/batch=1")
    assert(EventStreams.compactBatchState(spark, snap, "latest") === 1L)
    val keep = spark.read.parquet(snap).drop("batch").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(keep === Set((1L, "s1")))
  }

  test("ingest state compaction end-to-end: compact between ingests, results unchanged") {
    // the operational claim: a compaction BETWEEN batches is invisible
    // to every later ingest — same pairs, same final clusters as the
    // uncompacted run (the INGEST_DEDUP_DESTINATION ingestCompact path)
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india kilo"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "one two three four five six seven eight nine eleven"),
      (5L, "entirely unshared content sits alone in the middle batch"),
      (6L, "and this final document also matches nothing else at all"))
      .toDF("doc_id", "text")
    def run(root: String, compactMid: Boolean): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val state = s"$root/state"
      EventStreams.ingestDedupBatch(spark,
        docs.filter(col("doc_id") === 1L), state, 0L)
      EventStreams.ingestDedupBatch(spark,
        docs.filter(col("doc_id") === 3L), state, 1L)
      EventStreams.ingestDedupBatch(spark,
        docs.filter(col("doc_id").isin(4L, 5L)), state, 2L)
      if (compactMid) {
        // union spares the newest (batch=2); batches 0 and 1 fold
        Seq("docs", "sketch", "pairs").foreach { d =>
          assert(EventStreams.compactBatchState(spark, s"$state/$d", "union") === 1L)
        }
        assert(EventStreams.compactBatchState(spark, s"$state/clusters", "latest") === 2L)
      }
      // the cross-compaction pair (1, 2) can only come from the
      // FOLDED sketch (doc 1 rode batch 0, folded into batch=1);
      // (3, 4) was found before the compaction
      EventStreams.ingestDedupBatch(spark,
        docs.filter(col("doc_id").isin(2L, 6L)), state, 3L)
      (spark.read.parquet(s"$state/pairs").select("doc_a", "doc_b")
         .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
       spark.read.parquet(s"$state/clusters").filter(col("batch") === 3)
         .drop("batch").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    }
    val plain = run(tmpDir("graft_ingc_plain_"), compactMid = false)
    val compRoot = tmpDir("graft_ingc_comp_")
    val compacted = run(compRoot, compactMid = true)
    assert(compacted === plain)
    assert(plain._1 === Set((1L, 2L), (3L, 4L)))
    // STALE RETRY after compaction: batch 0's own partitions were
    // folded away, so its markers are gone — but a committed LATER
    // batch proves it was ingested, and re-submitting it must be a
    // no-op (re-running it against the compacted state would
    // double-ingest its docs and double-emit its pairs)
    EventStreams.ingestDedupBatch(spark,
      docs.filter(col("doc_id") === 1L), s"$compRoot/state", 0L)
    val afterRetry = (
      spark.read.parquet(s"$compRoot/state/pairs").select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
      spark.read.parquet(s"$compRoot/state/clusters").filter(col("batch") === 3)
        .drop("batch").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(afterRetry === plain)
    assert(spark.read.parquet(s"$compRoot/state/docs").count() === 6L)
  }

  test("crashed ingest + mid-crash compaction: the retry must NOT destroy " +
    "compacted state (ADVICE r17 — union spares the newest batch id)") {
    // the exact reported scenario: ingest of batch N crashes AFTER
    // writeNearDupBatch (pairs/docs/sketch committed under batch=N)
    // but BEFORE the clusters write; the out-of-band compaction then
    // runs; the retry sees the batch uncommitted (clusters marker
    // missing, not stale — N is the max id) and recomputes. With the
    // old fold-into-newest union, stateBefore(N) was empty and the
    // retry overwrote the folded partitions with batch-N-only rows.
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel india kilo"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "one two three four five six seven eight nine eleven"))
      .toDF("doc_id", "text")
    val state = s"${tmpDir("graft_crash_compact_")}/state"
    EventStreams.ingestDedupBatch(spark, docs.filter(col("doc_id") === 1L), state, 0L)
    EventStreams.ingestDedupBatch(spark, docs.filter(col("doc_id") === 3L), state, 1L)
    // batch 2 "crashes" after the state writes: run it whole, then
    // delete the clusters partition — byte-identical to the mid-crash
    EventStreams.ingestDedupBatch(spark,
      docs.filter(col("doc_id").isin(2L, 4L)), state, 2L)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/clusters/batch=2"), true)
    // the documented out-of-band maintenance job fires before the retry
    Seq("docs", "sketch", "pairs").foreach { d =>
      EventStreams.compactBatchState(spark, s"$state/$d", "union")
    }
    EventStreams.compactBatchState(spark, s"$state/clusters", "latest")
    // retry of batch 2: recomputes against the intact pre-batch state
    EventStreams.ingestDedupBatch(spark,
      docs.filter(col("doc_id").isin(2L, 4L)), state, 2L)
    assert(spark.read.parquet(s"$state/docs").count() === 4L,
      "compacted docs state must survive the crashed-batch retry")
    val pairs = spark.read.parquet(s"$state/pairs").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L), (3L, 4L)), s"got $pairs")
    val clusters = spark.read.parquet(s"$state/clusters")
      .filter(col("batch") === 2).drop("batch")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusters === Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)), s"got $clusters")
  }

  test("ingestSpanBatch char grain: two ingests equal the full char rebuild at " +
    "arrival-time visibility, and a stale retry is a no-op") {
    import spark.implicits._
    val docs = Seq(
      (1L, "xxxxBOILERPLATE-SEGMENT-HERExxxx"),
      (2L, "yyyyBOILERPLATE-SEGMENT-HEREyyyy"),   // covered at arrival (1 in batch 0)
      (3L, "zzzz-unique-content-here-zzzz"))
      .toDF("doc_id", "text")
    val state = s"${tmpDir("graft_ingspan_char_")}/state"
    EventStreams.ingestSpanBatch(spark, docs.filter(col("doc_id") === 1), state, 0L,
      grain = "char", k = 12, minRun = 20)
    EventStreams.ingestSpanBatch(spark, docs.filter(col("doc_id") =!= 1), state, 1L,
      grain = "char", k = 12, minRun = 20)
    def spans() = spark.read.parquet(s"$state/spans").drop("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = spans()
    // arrival-time rule: doc 1 saw nothing; doc 2's span equals the
    // full rebuild's assignment for it (the batch-2 restriction)
    val full = graft.operators.Dedup
      .duplicatedSpansChars(docs, "doc_id", "text", k = 12, minChars = 20)
      .filter(col("doc_id") =!= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === full)
    assert(got.map(_._1) === Set(2L), s"got $got")
    // stale retry of batch 0 after batch 1 committed: no-op
    EventStreams.ingestSpanBatch(spark, docs.filter(col("doc_id") === 1), state, 0L,
      grain = "char", k = 12, minRun = 20)
    assert(spans() === got)
  }

  test("ingestAnnBatch mid-crash replay: vectors-committed/postings-missing " +
    "retries deterministically in BOTH modes; serving is exact after repair") {
    import spark.implicits._
    def vecs(ids: Range, shift: Double) = ids.map { i =>
      val base = i % 3 match {
        case 0 => Seq(1.0, 0.1 * (i % 5), 0.0, 0.0)
        case 1 => Seq(0.0, 1.0, 0.1 * (i % 5), 0.0)
        case _ => Seq(-1.0, 0.0, 0.1 * (i % 5), 0.1)
      }
      (i.toLong, base.map(_ + shift))
    }.toDF("vec_id", "e")
    val dest = s"${tmpDir("graft_ann_crash_")}/index"
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    EventStreams.ingestAnnBatch(spark, vecs(0 until 30, 0.0), dest, 0L,
      vecCol = "e", nLists = 4, mode = "rebuild")
    // APPEND crash: batch 1's vectors commit, its postings don't
    EventStreams.ingestAnnBatch(spark, vecs(30 until 60, 0.0), dest, 1L,
      vecCol = "e", nLists = 4, mode = "append")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dest/postings/batch=1"), true)
    EventStreams.ingestAnnBatch(spark, vecs(30 until 60, 0.0), dest, 1L,
      vecCol = "e", nLists = 4, mode = "append") // the retry
    // REBUILD crash: vectors + centroids commit, postings don't (the
    // only mid-crash shape the write order allows)
    EventStreams.ingestAnnBatch(spark, vecs(60 until 90, 2.0), dest, 2L,
      vecCol = "e", nLists = 4, mode = "rebuild")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dest/postings/batch=2"), true)
    // CRASH-WINDOW reads: the dangling centroids snapshot must NOT
    // become the serving era — queries stay consistently on era 0
    val preProbes = vecs(0 until 60, 0.0)
      .filter(col("vec_id") === 5L)
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    val windowServed = EventStreams
      .annIngestTopK(spark, dest, preProbes, k = 3, nProbe = 4)
      .select("probe_id", "vec_id", "cos_sim").collect()
    assert(windowServed.length === 3,
      s"crash-window serving must stay on the old era, got ${windowServed.length} rows")
    assert(windowServed.map(_.getLong(1)).distinct.length === 3,
      "crash-window serving must not duplicate vectors")
    // an APPEND under the pending rebuild is refused loudly
    val refuse = intercept[IllegalStateException] {
      EventStreams.ingestAnnBatch(spark, vecs(90 until 100, 0.0), dest, 3L,
        vecCol = "e", nLists = 4, mode = "append")
    }
    assert(refuse.getMessage.contains("mid-crash"), refuse.getMessage)
    EventStreams.ingestAnnBatch(spark, vecs(60 until 90, 2.0), dest, 2L,
      vecCol = "e", nLists = 4, mode = "rebuild") // the retry
    assert(EventStreams.latestCommittedBatch(spark, s"$dest/centroids").get === 2L)
    // the repaired index serves exact top-k at nProbe = nLists
    val all = vecs(0 until 60, 0.0).unionByName(vecs(60 until 90, 2.0))
    val probes = all.filter(col("vec_id").isin(5L, 75L))
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    val served = EventStreams.annIngestTopK(spark, dest, probes, k = 4, nProbe = 4)
      .filter(col("probe_id") =!= col("vec_id"))
      .select("probe_id", "vec_id", "cos_sim").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (-r.getDouble(2), r.getLong(1)))
        .map(_.getLong(1)).take(3).toSeq).toMap
    val exact = graft.operators.Similarity.batchTopK(all, probes, "e", k = 3)
      .select("probe_id", "rk", "vec_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(served === exact, s"post-repair serving diverged: $served vs $exact")
    // docs are never double-counted through the crashes
    assert(spark.read.parquet(s"$dest/vectors").count() === 90L)
    // an ABANDONED crashed append refuses the NEXT append id loudly
    // (ADVICE r18: its rows would silently drop from serving until
    // the next rebuild) — and the in-order retry still heals
    EventStreams.ingestAnnBatch(spark, vecs(90 until 100, 2.0), dest, 3L,
      vecCol = "e", nLists = 4, mode = "append")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dest/postings/batch=3"), true)
    val abandoned = intercept[IllegalStateException] {
      EventStreams.ingestAnnBatch(spark, vecs(100 until 110, 2.0), dest, 4L,
        vecCol = "e", nLists = 4, mode = "append")
    }
    assert(abandoned.getMessage.contains("crashed mid-protocol"), abandoned.getMessage)
    EventStreams.ingestAnnBatch(spark, vecs(90 until 100, 2.0), dest, 3L,
      vecCol = "e", nLists = 4, mode = "append") // the retry
    EventStreams.ingestAnnBatch(spark, vecs(100 until 110, 2.0), dest, 4L,
      vecCol = "e", nLists = 4, mode = "append") // now lands
    assert(spark.read.parquet(s"$dest/vectors").count() === 110L)
    assert(EventStreams.latestCommittedBatch(spark, s"$dest/postings").get === 4L)
  }

  test("annIngestCompact: era-aware vacuum + vector fold keep serving identical, " +
    "idempotent across a crash, and the protocol keeps accepting batches (r18 #2)") {
    import spark.implicits._
    def vecs(ids: Range, shift: Double) = ids.map { i =>
      val base = i % 3 match {
        case 0 => Seq(1.0, 0.1 * (i % 5), 0.0, 0.0)
        case 1 => Seq(0.0, 1.0, 0.1 * (i % 5), 0.0)
        case _ => Seq(-1.0, 0.0, 0.1 * (i % 5), 0.1)
      }
      (i.toLong, base.map(_ + shift))
    }.toDF("vec_id", "e")
    val dest = s"${tmpDir("graft_ann_compact_")}/index"
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(d: String): Set[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/$d"))
        .map(_.getPath.getName).filter(_.startsWith("batch=")).toSet
    def ing(r: Range, id: Long, mode: String): Unit =
      EventStreams.ingestAnnBatch(spark, vecs(r, 0.0), dest, id,
        vecCol = "e", nLists = 4, mode = mode)
    // era 0, two appends, rebuild era 3, two more appends
    ing(0 until 30, 0L, "rebuild")
    ing(30 until 40, 1L, "append")
    ing(40 until 50, 2L, "append")
    ing(50 until 60, 3L, "rebuild")
    ing(60 until 70, 4L, "append")
    ing(70 until 80, 5L, "append")
    val probes = vecs(0 until 80, 0.0).filter(col("vec_id").isin(5L, 65L))
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    def serve() = EventStreams.annIngestTopK(spark, dest, probes, k = 5, nProbe = 4)
      .select("probe_id", "vec_id", "cos_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val before = serve()
    assert(parts("postings") === Set("batch=0", "batch=1", "batch=2", "batch=3",
      "batch=4", "batch=5"))
    val (retired, folded) = EventStreams.annIngestCompact(spark, dest, minParts = 2)
    // retired: postings 0,1,2 + centroids 0; vectors 0..4 folded to batch=4
    assert(retired === 4L, s"retired $retired")
    assert(folded === 4L, s"folded $folded")
    assert(parts("postings") === Set("batch=3", "batch=4", "batch=5"))
    assert(parts("centroids") === Set("batch=3"))
    assert(parts("vectors") === Set("batch=4", "batch=5"))
    assert(serve() === before, "compaction must not change serving")
    // crash mid-vacuum (some deletes landed, some didn't) = any prefix
    // of the delete set — simulate by re-running on the already-clean
    // state: idempotent, nothing to do
    assert(EventStreams.annIngestCompact(spark, dest, minParts = 2) === ((0L, 0L)))
    assert(serve() === before)
    // the protocol keeps working on the compacted state: an append,
    // then a rebuild (new era), then vacuum retires the old era
    ing(80 until 90, 6L, "append")
    ing(90 until 100, 7L, "rebuild")
    val all = vecs(0 until 100, 0.0)
    val probes2 = all.filter(col("vec_id").isin(5L, 95L))
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
    val served2 = EventStreams.annIngestTopK(spark, dest, probes2, k = 4, nProbe = 4)
      .select("probe_id", "vec_id", "cos_sim").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (-r.getDouble(2), r.getLong(1)))
        .map(_.getLong(1)).toSeq).toMap
      .map { case (p, ids) => p -> ids.filter(_ != p).take(3) }
    val exact = graft.operators.Similarity.batchTopK(all, probes2, "e", k = 3)
      .select("probe_id", "rk", "vec_id").collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    assert(served2 === exact, "post-compaction era roll must serve exactly")
    val (retired2, _) = EventStreams.annIngestCompact(spark, dest, minParts = 2)
    assert(retired2 === 5L, s"old era + appends must vacuum, got $retired2") // postings 3,4,5,6 + centroids 3
    assert(parts("postings") === Set("batch=7"))
    assert(parts("centroids") === Set("batch=7"))
  }

  test("ingestAnnBatch rung maintenance: maintained projections equal one-shot, " +
    "a crash mid-rung-write retries clean, compaction folds rung dirs (r19)") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // the bits rung packs exactly 64 dims — use the fixture embeddings
    val emb = Tables.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
    val dest = s"${tmpDir("graft_ann_rungs_spec_")}/index"
    val fs = new org.apache.hadoop.fs.Path(dest)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rungs = Seq("bits", "sq8", "prefix32")
    def ing(m: Long, id: Long, mode: String): Unit =
      EventStreams.ingestAnnBatch(spark, emb.filter(col("vec_id") % 3 === m),
        dest, id, vecCol = "e", nLists = 4, mode = mode, rungs = rungs)
    ing(0L, 0L, "rebuild")
    ing(1L, 1L, "append")
    // crash between rung writes: batch 1's sq8 + postings vanish
    // (everything after the crash point), then the in-order retry
    fs.delete(new org.apache.hadoop.fs.Path(s"$dest/sq8/batch=1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dest/postings/batch=1"), true)
    ing(1L, 1L, "append")
    ing(2L, 2L, "append")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map {
        case s: Seq[_] => s.toList
        case x => x
      }.toList).toSet
    def maintained(r: String) = EventStreams.batchStateRead(spark, s"$dest/$r")
    import graft.operators.Similarity
    assert(rows(maintained("bits")) === rows(Similarity.signBitsTable(emb, "vec_id", "e")),
      "maintained bits rung must equal the one-shot projection")
    assert(rows(maintained("sq8")) === rows(Similarity.sq8Table(emb, "vec_id", "e")),
      "maintained sq8 rung must equal the one-shot projection")
    assert(rows(maintained("prefix32")) === rows(Similarity.prefixTable(emb, "vec_id", "e", 32)),
      "maintained prefix rung must equal the one-shot projection")
    // era-aware compaction folds the rung dirs too; serving off the
    // maintained bits state is unchanged
    // pinned: the probe frame must survive the fold's file swap
    val probes = maintained("bits").filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("lo").as("plo"), col("hi").as("phi"))
      .localCheckpoint()
    def serveBits() = Similarity
      .hammingBatchTopK(maintained("bits"), probes, k = 5, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val before = serveBits()
    val (_, folded) = EventStreams.annIngestCompact(spark, dest, minParts = 2)
    assert(folded >= 4L, s"vectors + three rung dirs must fold, got $folded")
    rungs.foreach { r =>
      val n = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dest/$r"))
        .count(_.getPath.getName.startsWith("batch="))
      assert(n === 2, s"rung $r should fold to 2 partitions, got $n")
    }
    assert(serveBits() === before, "rung compaction must not change serving")
  }

  test("span-ingest compaction parity (char grain): compact between ingests, " +
    "arrival-time spans unchanged — the dedup step's ingestCompact discipline") {
    import spark.implicits._
    val docs = Seq(
      (1L, "xxxxBOILERPLATE-SEGMENT-HERExxxx"),
      (2L, "yyyyBOILERPLATE-SEGMENT-HEREyyyy"),
      (3L, "zzzzBOILERPLATE-SEGMENT-HEREzzzz"),
      (4L, "wwww-unique-content-here-wwwww"))
      .toDF("doc_id", "text")
    def ingest(state: String, id: Long, d: Long): Unit =
      EventStreams.ingestSpanBatch(spark, docs.filter(col("doc_id") === d),
        state, id, grain = "char", k = 12, minRun = 20)
    def run(root: String, compactMid: Boolean): Set[(Long, Long, Long)] = {
      val state = s"$root/state"
      ingest(state, 0L, 1L); ingest(state, 1L, 2L); ingest(state, 2L, 4L)
      if (compactMid)
        Seq("summary", "spans").foreach { d =>
          assert(EventStreams.compactBatchState(spark, s"$state/$d", "union") === 1L)
        }
      // doc 3's coverage can only come through the FOLDED summary
      ingest(state, 3L, 3L)
      spark.read.parquet(s"$state/spans").drop("batch").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val plain = run(tmpDir("graft_spanc_plain_"), compactMid = false)
    val compacted = run(tmpDir("graft_spanc_comp_"), compactMid = true)
    assert(compacted === plain)
    // arrival-time rule: doc 1 saw nothing; docs 2 and 3 are covered
    assert(plain.map(_._1) === Set(2L, 3L), s"got $plain")
  }

  test("ingestBm25Batch: appends equal the one-shot scoring, re-submission and " +
    "stale retry no-op, a mid-protocol crash replays, partials drop, " +
    "compaction keeps the bucket layout (VERDICT r17 #1)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark merge window fast"),
      (2L, "spark spark slow join"),
      (3L, "merge window spark index"),
      (4L, "window window merge scan"),
      (5L, "unrelated words entirely"),
      (6L, "spark merge window spark merge"))
      .toDF("doc_id", "text")
    val terms = Seq("spark", "merge", "window")
    val state = s"${tmpDir("graft_ingbm25_")}/state"
    (0 to 2).foreach(i => EventStreams.ingestBm25Batch(spark,
      docs.filter(col("doc_id") % 3 === i), state, i.toLong))
    def served() = graft.TextQueries.bm25IngestTopK(spark, state, terms, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def oneShot(d: org.apache.spark.sql.DataFrame) =
      graft.TextQueries.bm25ScoreTerms(
          graft.TextQueries.bm25RawPostings(d),
          graft.TextQueries.bm25StatsOf(d), terms, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = oneShot(docs)
    assert(served() === expected)
    // re-submitting the committed max id: committed-skip, no-op
    val nPost = spark.read.parquet(s"$state/postings").count()
    EventStreams.ingestBm25Batch(spark,
      docs.filter(col("doc_id") % 3 === 2), state, 2L)
    assert(spark.read.parquet(s"$state/postings").count() === nPost)
    // mid-protocol crash: batch 3's postings commit, stats don't —
    // byte-identical to a crash between the two writes
    val d7 = Seq((7L, "spark merge window again")).toDF("doc_id", "text")
    EventStreams.ingestBm25Batch(spark, d7, state, 3L)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/stats/batch=3"), true)
    EventStreams.ingestBm25Batch(spark, d7, state, 3L) // the retry
    val expected7 = oneShot(docs.unionByName(d7))
    assert(served() === expected7,
      "retry after a postings-committed/stats-missing crash must land both")
    // a marker-less partial batch partition drops before any read
    d7.write.parquet(s"$state/stats/batch=4")
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/stats/batch=4/_SUCCESS"), false)
    assert(served() === expected7, "partial batch=4 must be dropped, not summed")
    // union compaction with the bucket layout preserved; newest spared
    assert(EventStreams.compactBatchState(spark, s"$state/postings", "union",
      minParts = 2, partitionCols = Seq("bucket")) === 2L)
    EventStreams.compactBatchState(spark, s"$state/stats", "union")
    assert(served() === expected7)
    val folded = fs.listStatus(new org.apache.hadoop.fs.Path(s"$state/postings/batch=2"))
      .map(_.getPath.getName)
    assert(folded.exists(_.startsWith("bucket=")),
      s"folded postings must keep bucket= pruning dirs, got ${folded.mkString(",")}")
    // stale retry of a folded-away id: no-op against the compacted state
    EventStreams.ingestBm25Batch(spark,
      docs.filter(col("doc_id") % 3 === 0), state, 0L)
    assert(served() === expected7)
    // REPLAY-ORDER VIOLATION is loud AT SUBMISSION TIME (ADVICE r18):
    // batch 4 commits postings but not stats and is abandoned; the
    // NEXT id must be refused — committing batch 5 above the
    // half-committed state would freeze batch-4 postings against
    // stats that exclude its delta forever (and the r18 cut, which
    // only threw on batch 4's own retry, would never fire if that
    // retry never came)
    val d8 = Seq((8L, "spark window replay")).toDF("doc_id", "text")
    val d9 = Seq((9L, "merge merge merge")).toDF("doc_id", "text")
    EventStreams.ingestBm25Batch(spark, d8, state, 4L)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/stats/batch=4"), true)
    val e = intercept[IllegalStateException] {
      EventStreams.ingestBm25Batch(spark, d9, state, 5L)
    }
    assert(e.getMessage.contains("replay-order violation"), e.getMessage)
    // the in-order retry of the crashed id heals by overwrite; the
    // next id then lands and serving equals the one-shot build
    EventStreams.ingestBm25Batch(spark, d8, state, 4L)
    EventStreams.ingestBm25Batch(spark, d9, state, 5L)
    assert(served() === oneShot(docs.unionByName(d7).unionByName(d8).unionByName(d9)))
    // HALF-COMPACTED state is STALE, not a violation (ADVICE r18
    // finding 2): the maintenance job compacts postings then stats as
    // two operations — a crash between them leaves a fully-committed
    // id folded away in postings but still marked in stats. Its
    // re-submission must skip whole (the fold preserved its rows),
    // not false-alarm; both dirs still agree on the newest id, so
    // fresh submissions keep passing the guard.
    assert(EventStreams.compactBatchState(spark, s"$state/postings", "union",
      minParts = 2, partitionCols = Seq("bucket")) >= 1L)
    val before = served()
    // batch 3 is now folded away in postings (marker gone) but still
    // carries its stats marker — the exact mixed-marks shape the r18
    // cut threw on
    EventStreams.ingestBm25Batch(spark, d7, state, 3L)
    assert(served() === before,
      "a half-compacted committed id must stale-skip, not re-ingest or throw")
  }

  test("batch protocol rejects a pre-protocol flat-layout state dir loudly") {
    import spark.implicits._
    val work = tmpDir("graft_flat_guard_")
    val dir = s"$work/state"
    // the OLD layout: data files at the directory root, no batch= dirs
    Seq((1L, "old corpus row")).toDF("doc_id", "text").write.parquet(dir)
    val e = intercept[IllegalStateException] {
      EventStreams.compactBatchState(spark, dir, "union")
    }
    // silently treating the old corpus as empty would drop every
    // cross-batch pair — the guard must name the migration instead
    assert(e.getMessage.contains("flat-append layout"), s"got: ${e.getMessage}")
    assert(e.getMessage.contains("batch=0"), s"migration story missing: ${e.getMessage}")
  }

  test("attribution hot-user bound: noise types never reach the state buffer") {
    // pins the documented per-(user, batch) bound: the group buffer
    // holds only the attribution-relevant slice (purchases + touches),
    // so a user emitting thousands of telemetry rows in one batch
    // costs the state call nothing — the type filter sits BELOW the
    // stateful operator in the plan, and the output is unaffected by
    // the noise volume
    val work = tmpDir("graft_attr_hot_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    val noise = spark.range(5000).selectExpr(
      "id + 1000 AS event_id",
      "timestamp_micros(1704067260000000 + id * 1000) AS ts",
      "CAST(42 AS LONG) AS user_id", "'error' AS event_type",
      "CAST(0.0 AS DOUBLE) AS value", "'' AS props")
    val signal = spark.sql(
      "SELECT 1L AS event_id, TIMESTAMP '2024-01-01 00:00:00' AS ts, 42L AS user_id, " +
        "'click' AS event_type, 0.0D AS value, '' AS props " +
        "UNION ALL SELECT 2L, TIMESTAMP '2024-01-01 02:00:00', 42L, 'purchase', 3.0D, ''")
    noise.unionByName(signal).coalesce(1).write.parquet(s"$work/stage")
    val part = new java.io.File(s"$work/stage").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(src, "h0.parquet"))
    val stream = EventStreams.readEvents(spark, src, maxFilesPerTrigger = Some(1))
    val ds = EventStreams.attributionStream(stream)(spark)
    // plan pin: the isin type filter lives in the stateful operator's
    // CHILD subtree (pre-shuffle), not above it
    val plan = ds.queryExecution.analyzed
    val fmgs = plan.collect {
      case n if n.nodeName.contains("FlatMapGroupsWithState") => n
    }
    assert(fmgs.nonEmpty, "stateful operator missing from plan")
    assert(fmgs.head.children.head.treeString.contains("purchase"),
      "type filter must sit below the stateful operator")
    val out = EventStreams.runToParquet(spark, ds.toDF(),
        s"$work/run", statePartitions = Some(4))
      .collect().map(r => r.getAs[Long]("event_id") ->
        r.getAs[String]("channel")).toMap
    // the 5000 error rows between touch and purchase change nothing
    assert(out === Map(2L -> "click"))
  }

  test("dim-refresh enrich fails loudly when the dimension exceeds maxDimBytes") {
    val work = tmpDir("graft_dimref_guard_")
    val src = s"$work/src"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(src))
    spark.range(0, 10).selectExpr("id AS k", "id AS v")
      .coalesce(1).write.parquet(s"$work/feed")
    new java.io.File(s"$work/feed").listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(src, f.getName)))
    spark.range(0, 10).selectExpr("id AS k", "'t' AS tier")
      .coalesce(1).write.parquet(s"$work/dim")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))))
      .parquet(src)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      EventStreams.enrichRefreshedDimStream(spark, stream, s"$work/dim",
        s"$work/out", s"$work/ckpt", key = "k", maxDimBytes = 64L)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("must stay dimension-sized")),
      s"expected the named broadcast guard, got: ${messages(e).mkString(" | ")}")
  }

  /** One user of the per-batch exactly-once protocol
    * (`EventStreams.runExactlyOnce`): two single-file input halves
    * (batch 0 and batch 1 under maxFilesPerTrigger=1), the partition
    * column its output dirs use, and how to run it over a stream into
    * `work`. `rows` is the row count a clean run reads back. `log`
    * records side effects (only the enrich operator's `afterBatch` has
    * any); `effects` is the log a clean run leaves. */
  private final case class ReplayCase(
      name: String, part: String, rows: Int,
      halves: () => (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      run: (org.apache.spark.sql.DataFrame, String, Long => Unit) => org.apache.spark.sql.DataFrame,
      effects: Seq[Long] = Nil)

  private lazy val replayCases = Seq(
    ReplayCase("freshnessStream", "batch", rows = 4, // 2 event types x 2 batches
      () => {
        def half(lo: Long) = spark.range(lo, lo + 20).selectExpr(
          "CASE WHEN id % 3 = 0 THEN 'click' ELSE 'view' END AS event_type",
          "timestamp_seconds(1704067200 + id * 60) AS ts")
        (half(0), half(20))
      },
      (stream, work, _) => EventStreams.freshnessStream(spark, stream,
        s"$work/out", s"$work/ckpt")),
    ReplayCase("fertilityDriftStream", "batch", rows = 2, // one report row per batch
      () => {
        import spark.implicits._
        (Seq("the theme then there", "other three").toDF("text"),
          Seq("xyzzy plugh quux", "the other").toDF("text"))
      },
      (stream, work, _) => EventStreams.fertilityDriftStream(spark, stream,
        Seq("th", "he"), 2500L, s"$work/out", s"$work/ckpt")),
    ReplayCase("driftPsiStream", "batch", rows = 2, // one monitor row per batch
      () => (spark.range(0, 100).selectExpr("CAST(id * 5 AS DOUBLE) AS value"),
        spark.range(0, 100).selectExpr("7.0D AS value")),
      (stream, work, _) => {
        val ref = spark.range(0, 10).selectExpr("id AS band", "10L AS r")
        EventStreams.driftPsiStream(spark, stream, ref, s"$work/out", s"$work/ckpt",
          bandWidth = 50.0)
      }),
    ReplayCase("ivfAppendStream", "enrich_batch", rows = 40, // one posting per vector
      () => {
        def half(lo: Long) = spark.range(lo, lo + 20).selectExpr("id AS vec_id",
          "array(CAST(id % 7 AS DOUBLE), CAST(id % 5 AS DOUBLE) + 0.5D) AS e")
        (half(0), half(20))
      },
      (stream, work, _) => {
        import spark.implicits._
        val centroids = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)), (2, Seq(1.0, 1.0)))
          .toDF("cell", "centroid")
        EventStreams.ivfAppendStream(spark, stream, centroids,
          s"$work/out", s"$work/ckpt", vecCol = "e")
      }),
    // the name keeps the pre-table test id of this case
    ReplayCase("dim-refresh enrich", "enrich_batch", rows = 100,
      () => (spark.range(0, 50).selectExpr("id AS k"),
        spark.range(50, 100).selectExpr("id AS k")),
      (stream, work, log) => {
        // afterBatch publishes the NEXT dimension version between
        // batches: a replayed batch that re-ran would re-publish and
        // re-enrich against a newer version
        def publish(tag: String): Unit = spark.range(0, 100)
          .selectExpr("id AS k", s"'$tag' AS tier")
          .coalesce(1).write.mode("overwrite").parquet(s"$work/dim")
        if (!new java.io.File(s"$work/dim").exists()) publish("v0")
        EventStreams.enrichRefreshedDimStream(spark, stream, s"$work/dim",
          s"$work/out", s"$work/ckpt", key = "k",
          afterBatch = { id => log(id); publish(s"v${id + 1}") })
      },
      effects = Seq(0L, 1L)))

  /** Stage one input half as a single parquet file of `work/src`,
    * aged so the file source orders batch 0 before batch 1. */
  private def stageHalf(work: String, h: Int, df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = s"$work/h$h"
    df.coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val staged = java.nio.file.Paths.get(work, "src", s"h$h.parquet")
    java.nio.file.Files.createDirectories(staged.getParent)
    java.nio.file.Files.move(part.toPath, staged)
    java.nio.file.Files.setLastModifiedTime(staged,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - (1 - h) * 10000L))
  }

  /** Run `c` over `work/src` (one file per micro-batch); the sorted rows. */
  private def runCase(c: ReplayCase, work: String, log: Long => Unit): Seq[String] = {
    val schema = c.halves()._1.schema
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(s"$work/src")
    c.run(stream, work, log).collect().map(_.toString).sorted.toSeq
  }

  /** Every file under `dir`, relative: part files carry a per-write
    * UUID, so an unchanged listing proves no batch was rewritten. */
  private def filesUnder(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSet
    } finally walk.close()
  }

  replayCases.foreach { c =>
    test(s"${c.name} replay is idempotent: committed batches are skipped, output stable") {
      val work = tmpDir("graft_replay_")
      val (h0, h1) = c.halves()
      stageHalf(work, 0, h0)
      stageHalf(work, 1, h1)
      val log = scala.collection.mutable.ArrayBuffer.empty[Long]
      val first = runCase(c, work, log += _)
      assert(first.length === c.rows)
      assert(log.toSeq === c.effects)
      val files = filesUnder(s"$work/out")
      assert(files.exists(_.startsWith(s"${c.part}=1/")), s"no batch 1 partition in $files")
      // wipe the CHECKPOINT (not the sink): every batch replays from
      // offset 0 — committed partitions must be skipped whole, so the
      // output is unchanged, nothing is rewritten and no side effect
      // fires again
      CacheDirs.deleteRecursively(new java.io.File(s"$work/ckpt"))
      val second = runCase(c, work, log += _)
      assert(log.toSeq === c.effects, s"replayed batches must not re-fire side effects, saw $log")
      assert(second === first, "replay must leave the output identical")
      assert(filesUnder(s"$work/out") === files, "replay must not rewrite a committed batch")
    }

    test(s"${c.name} replay drops marker-less partial batch directories before reading back") {
      val (h0, h1) = c.halves()
      val clean = tmpDir("graft_replay_clean_")
      stageHalf(clean, 0, h0)
      stageHalf(clean, 1, h1)
      val cleanLog = scala.collection.mutable.ArrayBuffer.empty[Long]
      val want = runCase(c, clean, cleanLog += _)
      // batch 1 "crashed" mid-write: its partition holds a file but no
      // _SUCCESS marker, and the checkpoint never committed it. Batch
      // 1's own overwrite would also clear that one, so plant a second
      // partial no rerun write reaches: a batch 2 that crashed before a
      // checkpoint rollback discarded its offsets. Only the protocol's
      // drop removes it before the output is read back; left in place,
      // the read-back would fail on its non-parquet file.
      val work = tmpDir("graft_replay_partial_")
      stageHalf(work, 0, h0)
      val log = scala.collection.mutable.ArrayBuffer.empty[Long]
      runCase(c, work, log += _)
      def plant(batchId: Int): java.nio.file.Path = {
        val dir = java.nio.file.Paths.get(work, "out", s"${c.part}=$batchId")
        java.nio.file.Files.createDirectories(dir)
        val junk = dir.resolve("part-00000-partial.snappy.parquet")
        java.nio.file.Files.write(junk, "not parquet".getBytes("UTF-8"))
        junk
      }
      val junk1 = plant(1)
      val junk2 = plant(2)
      stageHalf(work, 1, h1)
      val got = runCase(c, work, log += _)
      assert(!java.nio.file.Files.exists(junk1), "the replayed batch's partial must be dropped")
      assert(java.nio.file.Files.exists(junk1.getParent.resolve("_SUCCESS")))
      assert(!java.nio.file.Files.exists(junk2.getParent),
        "a partial no write overwrites must be dropped before the read-back")
      assert(got.length === c.rows)
      assert(got === want, "the replayed batch must converge to the clean run's output")
      assert(log.toSeq === cleanLog.toSeq)
    }
  }

  /** The destination's `_graft_nbuckets` marker. */
  private def bucketMarker(dest: String): Int =
    java.nio.file.Files.readString(java.nio.file.Paths.get(dest, "_graft_nbuckets")).trim.toInt

  /** `_bucket=<b>` dir name -> number of `part-*.parquet` files in it. */
  private def partFilesPerBucket(dest: String): Map[String, Int] =
    new java.io.File(dest).listFiles().filter(_.getName.startsWith("_bucket="))
      .map(b => b.getName -> b.list().count(n => n.startsWith("part-") && n.endsWith(".parquet")))
      .toMap

  /** One operator over the bucketed merge machinery
    * (`EventStreams.bucketedMergeStream`): two single-file input
    * halves (one micro-batch each) keyed on `k`, the layout's bucket
    * count, how to run it into `work/dest`, and the rows it reads back. */
  private final case class MergeCase(
      name: String, nBuckets: Int,
      halves: () => (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame),
      run: (org.apache.spark.sql.DataFrame, String) => org.apache.spark.sql.DataFrame,
      expected: Seq[org.apache.spark.sql.Row])

  private lazy val mergeCases = {
    import org.apache.spark.sql.Row
    // keys 0..99 at version 1, then keys 0..49 at version 2
    def upsertHalves() = (
      spark.range(0, 100).selectExpr("id AS k", "CAST(1 AS BIGINT) AS ver", "'a' AS v"),
      spark.range(0, 50).selectExpr("id AS k", "CAST(2 AS BIGINT) AS ver", "'b' AS v"))
    val upserted = (0L until 100L).map(k => if (k < 50) Row(k, 2L, "b") else Row(k, 1L, "a"))
    def upsert(n: Int) = MergeCase(s"upsertStream (nBuckets=$n)", n, upsertHalves,
      (stream, work) => EventStreams.upsertStream(spark, stream, s"$work/dest",
        keys = Seq("k"), versionCol = "ver", checkpoint = s"$work/ckpt", nBuckets = n),
      upserted)
    // 40 keys x 3 rows, then 80 more rows whose scores interleave
    def topKRow(id: Long) = (id % 40, id, if (id < 120) id else (id * 7) % 200)
    val topKept = (0L until 200L).map(topKRow).groupBy(_._1).values
      .flatMap(_.sortBy { case (_, id, score) => (-score, -id) }.take(2))
      .map { case (k, id, score) => Row(k, id, score) }.toSeq
    Seq(
      upsert(32), // more buckets than the session's cores
      upsert(2), // fewer buckets than cores
      MergeCase("cdcStream (nBuckets=32)", 32,
        () => (spark.range(0, 100).selectExpr("id AS k", "CAST(1 AS BIGINT) AS ver",
            "'U' AS op", "'a' AS v"),
          spark.range(0, 50).selectExpr("id AS k", "CAST(2 AS BIGINT) AS ver",
            "CASE WHEN id % 2 = 0 THEN 'D' ELSE 'U' END AS op", "'b' AS v")),
        (stream, work) => EventStreams.cdcStream(spark, stream, s"$work/dest",
          keys = Seq("k"), versionCol = "ver", opCol = "op", checkpoint = s"$work/ckpt",
          nBuckets = 32),
        (0L until 100L).collect {
          case k if k >= 50 => Row(k, 1L, "a")
          case k if k % 2 == 1 => Row(k, 2L, "b")
        }),
      MergeCase("topKStream (nBuckets=32)", 32,
        () => (spark.range(0, 120).selectExpr("id % 40 AS k", "id", "id AS score"),
          spark.range(120, 200).selectExpr("id % 40 AS k", "id", "(id * 7) % 200 AS score")),
        (stream, work) => EventStreams.topKStream(spark, stream, s"$work/dest",
          keys = Seq("k"), orderCol = "score", tieCol = "id", k = 2,
          checkpoint = s"$work/ckpt", nBuckets = 32),
        topKept))
  }

  mergeCases.foreach { c =>
    test(s"${c.name} merges through one _bucket exchange into one file per touched bucket") {
      import org.apache.spark.sql.catalyst.expressions.Attribute
      import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
      import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
      import org.apache.spark.sql.execution.command.DataWritingCommandExec
      import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.util.QueryExecutionListener
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      import scala.jdk.CollectionConverters._
      val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      val work = tmpDir("graft_bucket_merge_")
      val (h0, h1) = c.halves()
      stageHalf(work, 0, h0)
      stageHalf(work, 1, h1)
      // the plans of the per-batch staging writes; registered before
      // the stream starts so the stream's cloned session inherits it
      val staged = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (helper.find(qe.executedPlan) {
            case w: DataWritingCommandExec => w.cmd match {
              case i: InsertIntoHadoopFsRelationCommand =>
                i.outputPath.getName.startsWith("dest_stage_")
              case _ => false
            }
            case _ => false
          }.isDefined) staged.add(qe.executedPlan)
        def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      val out = try {
        val stream = spark.readStream.schema(h0.schema).option("maxFilesPerTrigger", 1)
          .parquet(s"$work/src")
        c.run(stream, work).collect().map(_.toString).sorted.toSeq
      } finally spark.listenerManager.unregister(listener)
      assert(out == c.expected.map(_.toString).sorted)

      val perBucket = partFilesPerBucket(s"$work/dest")
      assert(perBucket.nonEmpty && perBucket.values.forall(_ == 1),
        s"every bucket dir must hold exactly one part file: $perBucket")

      // one exchange per merge input at most, each on `_bucket` alone
      // into p = min(touched buckets, cores) partitions
      val cores = spark.sparkContext.defaultParallelism
      val ps = Seq(h0, h1).map { h =>
        math.min(h.select(EventStreams.upsertBucket(Seq("k"), c.nBuckets)).distinct().count().toInt,
          cores)
      }
      eventually(timeout(30.seconds)) { assert(staged.size == 2) }
      staged.asScala.toSeq.zip(ps).foreach { case (plan, p) =>
        val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e }
        assert(exchanges.nonEmpty && exchanges.length <= 2, plan.toString)
        exchanges.foreach(_.outputPartitioning match {
          case HashPartitioning(Seq(a: Attribute), n) =>
            assert(a.name == "_bucket" && n == p, plan.toString)
          case other => fail(s"exchange partitions on $other, not _bucket into $p: $plan")
        })
      }
    }
  }

  test("upsertStream rejects a trigger other than AvailableNow before starting") {
    val work = tmpDir("graft_upsert_trigger_")
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(work, "src"))
    val stream = spark.readStream.schema("k LONG, ver LONG").parquet(s"$work/src")
    val e = intercept[IllegalArgumentException] {
      EventStreams.upsertStream(spark, stream, s"$work/dest", Seq("k"), "ver",
        s"$work/ckpt", org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    }
    assert(e.getMessage.contains("AvailableNow"), e.getMessage)
    assert(!new java.io.File(s"$work/ckpt").exists(), "no query may have started")
  }
}

/** The local file system under the `crashfs` scheme. Renaming a staged
  * `_bucket=` dir into a streaming-merge destination throws once
  * `swapsLeft` such renames have run, which is a crash in the middle
  * of the per-bucket swap. */
class CrashingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def getScheme: String = "crashfs"
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    if (src.getParent.getName.contains("_stage_") && dst.getName.startsWith("_bucket=") &&
        CrashingLocalFs.swapsLeft.getAndDecrement() <= 0)
      throw new java.io.IOException(s"injected crash before renaming $src to $dst")
    super.rename(src, dst)
  }
}

object CrashingLocalFs {
  val swapsLeft = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
}
