package graftbench

import graft.job.{JobQueue, JobRunner}
import graft.model.JobConfig
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/**
 * small_jobs: four clients, each with its own JobQueue inbox on one
 * shared session, each dropping one ~10k-row parquet job at a time.
 * Destinations rotate through PARQUET, CSV and JSON and the step list
 * rotates through four shapes, so per-job fixed cost dominates.
 */
final class SmallJobs(spark: SparkSession, work: Path, seed: Long, scale: Double, tracer: Tracer)
    extends Workload(spark, work, seed, scale, tracer) {
  def name = "small_jobs"
  override val clients: Int = 4
  val sliceRows: Int = sized(10000, 50)
  val slices = 12
  private val inDir = dir("in")
  private val outDir = work.resolve("out")
  private val queues = work.resolve("queues")
  def outputDirs: Seq[Path] = Seq(outDir)
  // every job leaves its own destination behind
  private val consumed = new java.util.concurrent.atomic.AtomicLong()
  def consumedBytes: Long = consumed.get
  private val sliceBytes = Array.fill(slices)(0L)
  private lazy val queue: Array[JobQueue] =
    Array.tabulate(clients)(c => new JobQueue(spark, queues.resolve(s"c$c").toString, Silent))
  private val formats = Array("PARQUET", "CSV", "JSON")
  private val stepShapes = Array(
    """["LOAD"]""", """["VALIDATE_SOURCE","LOAD"]""", """["LOAD","VALIDATE_LOAD"]""",
    """["VALIDATE_SOURCE","LOAD","VALIDATE_LOAD"]""")

  private val Cats = Vector("toys", "books", "food", "tools")
  private def slicePath(i: Int) = inDir.resolve(f"slice-$i%02d.parquet")

  def prepare(): Unit = {
    val rnd = new scala.util.Random(seed * 7919 + 2)
    val schema = StructType(Seq("id", "cat", "amount", "qty", "day", "flag")
      .map(StructField(_, StringType, nullable = false)))
    val rows = (0 until slices * sliceRows).map { i =>
      Row((i / sliceRows * 1000000L + i % sliceRows).toString, Cats(rnd.nextInt(Cats.length)),
        f"${rnd.nextInt(100000) / 100.0}%.2f", rnd.nextInt(500).toString,
        f"2024-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d", if (rnd.nextBoolean()) "y" else "n")
    }
    // one write job, one part file per slice (partition i holds slice i)
    val tmp = work.resolve("gen")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
      .write.parquet(tmp.toString)
    val parts = new java.io.File(tmp.toString).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).sortBy(_.getName)
    require(parts.length == slices, s"expected $slices slice files, got ${parts.length}")
    parts.zipWithIndex.foreach { case (f, s) =>
      Files.move(f.toPath, slicePath(s))
      sliceBytes(s) = Files.size(slicePath(s))
    }
    Files2.deleteTree(tmp)
    queue // create the inboxes before the clock starts
  }

  private def config(jobId: String, slice: Int, k: Long, dest: Path): String =
    s"""{"jobId":"$jobId","jobName":"small_jobs",
       |"source":{"type":"PARQUET","connectionDetails":{"path":"${slicePath(slice)}"}},
       |"destination":{"type":"${formats((k % 3).toInt)}","connectionDetails":{"path":"$dest"}},
       |"mappings":[
       | {"sourceFieldName":"id","destinationFieldName":"order_id","destFieldType":"LONG","isDestNullable":false},
       | {"sourceFieldName":"cat","destinationFieldName":"category","transformationRule":"UPPERCASE"},
       | {"sourceFieldName":"amount","destFieldType":"DECIMAL(10,2)"},
       | {"sourceFieldName":"qty","destFieldType":"INTEGER"},
       | {"sourceFieldName":"day","destFieldType":"DATE"},
       | {"sourceFieldName":"flag","destFieldType":"BOOLEAN"}],
       |"steps":${stepShapes((k / 3 % 4).toInt)}}""".stripMargin

  private val perClient = Array.fill(clients)(0L)

  /** Drop one config into the client's inbox and drain it; returns the
    * job's result (if any) and the check failures. */
  private def submit(client: Int, jobId: String, slice: Int, k: Long, timed: Timed): Seq[String] = {
    val inbox = queues.resolve(s"c$client")
    consumed.addAndGet(sliceBytes(slice))
    val dest = dir("out", s"c$client").resolve(s"j$k")
    val json = config(jobId, slice, k, dest)
    val file = s"$jobId.json"
    val results = timed {
      // the client checks its config parses before it enqueues it
      tracer.span("JobConfig.fromJson", "model")(JobConfig.fromJson(json))
      val tmp = inbox.resolve(s".$file.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, inbox.resolve(file), StandardCopyOption.ATOMIC_MOVE)
      tracer.span("JobQueue.drainOnce", "job")(queue(client).drainOnce())
    }
    results.get(file) match {
      case None => Seq(s"small_jobs: $jobId returned no result")
      case Some(r) =>
        Seq(
          if (r.status != JobRunner.Completed) Some(s"small_jobs: $jobId ${r.status}") else None,
          if (r.recordsWritten != sliceRows)
            Some(s"small_jobs: $jobId wrote ${r.recordsWritten}, slice has $sliceRows") else None,
          if (!Files.exists(inbox.resolve("done").resolve(file)))
            Some(s"small_jobs: $jobId config not in done/") else None
        ).flatten
    }
  }

  // each warm-up round submits two jobs per client
  override def warmUpOps: Int = 4
  def warmUp(round: Int): Seq[String] = (0 until clients * 2).flatMap { i =>
    val c = i % clients
    val k = perClient(c); perClient(c) += 1
    submit(c, s"warm-$c-$k", (i * 5) % slices, k, new Timed(tracer, -1))
  }

  def op(client: Int, opId: Long, timed: Timed): OpOutcome = {
    val k = perClient(client); perClient(client) += 1
    val jobId = s"sj-$opId"
    tracer.bindJobId(jobId, opId)
    val slice = ((client * 7 + k * 5) % slices).toInt
    OpOutcome(sliceRows, sliceBytes(slice), submit(client, jobId, slice, k, timed))
  }

  def finalCheck(): Seq[String] = (0 until clients).flatMap { c =>
    val inbox = queues.resolve(s"c$c")
    val done = Files.list(inbox.resolve("done"))
    val nDone = try done.count() finally done.close()
    val failed = Files.list(inbox.resolve("failed"))
    val nFailed = try failed.count() finally failed.close()
    Seq(
      if (nDone != perClient(c)) Some(s"small_jobs: client $c has $nDone configs in done/, ran ${perClient(c)}") else None,
      if (nFailed != 0) Some(s"small_jobs: client $c has $nFailed entries in failed/") else None
    ).flatten
  }

  def corrupt(): Unit = {
    val done = queues.resolve("c0").resolve("done")
    val f = Files.list(done)
    try Files.delete(f.iterator().next()) finally f.close()
  }

  override def castProbe(): Double = castProbeOf(config("sj-probe", 0, 0, outDir.resolve("probe")))

  def plantedSummary: Map[String, Any] = Map("slice_rows" -> sliceRows, "slices" -> slices,
    "jobs_per_client" -> perClient.toSeq)
}
