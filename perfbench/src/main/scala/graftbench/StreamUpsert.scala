package graftbench

import graft.streaming.EventStreams
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/**
 * stream_upsert: each tick lands one parquet file of events, runs one
 * `upsertStream(Trigger.AvailableNow)` pass on a persistent checkpoint
 * and reads the destination back. The op is the tick: from the file
 * landing to the read-back result.
 *
 * Versions are unique across the feed (~20% of events arrive up to
 * 1000 positions late), so keep-latest has no ties and the expected
 * state is known exactly.
 */
final class StreamUpsert(spark: SparkSession, work: Path, seed: Long, scale: Double, tracer: Tracer)
    extends Workload(spark, work, seed, scale, tracer) {
  def name = "stream_upsert"
  val eventsPerTick: Int = sized(10000, 100)
  val keys: Int = sized(1000000, 500)
  private val src = dir("in", "events")
  private val staged = dir("in", "staged")
  private val dest = work.resolve("out").resolve("state")
  private val checkpoint = work.resolve("out").resolve("checkpoint")
  def outputDirs: Seq[Path] = Seq(dest, checkpoint)
  def consumedBytes: Long = landedBytes

  private val rnd = new scala.util.Random(seed * 7919 + 3)
  private var tick = 0
  private var landedBytes = 0L
  // expected keep-latest state: key -> (version, crc32(payload))
  private val winner = new java.util.HashMap[Long, (Long, Long)]()
  private val expected = Array.fill(4)(0L) // keys, sum(key), sum(version), sum(crc)
  private var nextFile: Option[(Path, Long, Seq[(Long, Long, Long)])] = None

  private val schema = StructType(Seq(StructField("key", LongType), StructField("version", LongType),
    StructField("ts", TimestampType), StructField("payload", StringType)))

  /** Generate the next tick's file outside the source directory. */
  private def generate(): Unit = {
    val t = tick
    val evs = (0 until eventsPerTick).map { j =>
      val s = t.toLong * eventsPerTick + j
      val key = rnd.nextInt(keys).toLong
      val lag = if (rnd.nextDouble() < 0.2) rnd.nextInt(1000) else 0
      val version = (s - lag) * 1024 + s % 1024
      (key, version, s"p$s-${rnd.nextInt(1000000)}")
    }
    val rows = evs.map { case (k, v, p) =>
      Row(k, v, new java.sql.Timestamp(1704067200000L + t * 1000L), p) }
    val tmp = staged.resolve(s"gen-$t")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).write.parquet(tmp.toString)
    val file = staged.resolve(f"tick-$t%05d.parquet")
    val bytes = Files2.movePart(tmp, ".parquet", file)
    nextFile = Some((file, bytes, evs.map { case (k, v, p) => (k, v, Files2.crc32(p)) }))
    tick += 1
  }

  def prepare(): Unit = generate()

  private def apply(evs: Seq[(Long, Long, Long)]): Unit = evs.foreach { case (k, v, c) =>
    val old = winner.get(k)
    if (old == null) {
      winner.put(k, (v, c))
      expected(0) += 1; expected(1) += k; expected(2) += v; expected(3) += c
    } else if (v > old._1) {
      winner.put(k, (v, c))
      expected(2) += v - old._1; expected(3) += c - old._2
    }
  }

  /** One tick: land the staged file, run the upsert pass, read back. */
  private def runTick(opId: Long, timed: Timed): Seq[String] = {
    val (file, bytes, evs) = nextFile.get
    spark.sparkContext.setJobGroup(tracer.groupFor(opId), "graftbench tick")
    val got = try timed {
      tracer.span("land", "bench")(Files.move(file, src.resolve(file.getFileName)))
      val stream = tracer.span("EventStreams.readEvents", "streaming")(
        EventStreams.readEvents(spark, src.toString))
      val state = tracer.span("EventStreams.upsertStream", "streaming")(
        EventStreams.upsertStream(spark, stream, dest.toString, Seq("key"), "version",
          checkpoint.toString, Trigger.AvailableNow()))
      tracer.span("read_back", "streaming")(state.agg(count(lit(1)), sum("key"), sum("version"),
        sum(crc32(col("payload").cast("binary")))).head())
    } finally spark.sparkContext.clearJobGroup()
    landedBytes += bytes
    apply(evs)
    nextFile = None
    generate()
    val gotArr = (0 until 4).map(i => if (got.isNullAt(i)) 0L else got.getAs[Number](i).longValue)
    if (gotArr == expected.toSeq) Nil
    else Seq(s"stream_upsert: tick ${tick - 2} read-back ${gotArr.mkString(",")} != keep-latest ${expected.mkString(",")}")
  }

  // a tick's cost is mostly fixed (jobs, bucket rewrites, checkpoint
  // commits), so a smaller side feed would warm up no cheaper
  override def warmUpOps: Int = 4
  def warmUp(i: Int): Seq[String] = runTick(-1, new Timed(tracer, -1))

  def op(client: Int, opId: Long, timed: Timed): OpOutcome = {
    val before = landedBytes
    val errs = runTick(opId, timed)
    OpOutcome(eventsPerTick, landedBytes - before, errs)
  }

  def finalCheck(): Seq[String] = {
    val got = spark.read.parquet(dest.toString).agg(count(lit(1)), sum("key"), sum("version"),
      sum(crc32(col("payload").cast("binary")))).head()
    val gotArr = (0 until 4).map(i => if (got.isNullAt(i)) 0L else got.getAs[Number](i).longValue)
    if (gotArr == expected.toSeq) Nil
    else Seq(s"stream_upsert: final state ${gotArr.mkString(",")} != keep-latest ${expected.mkString(",")}")
  }

  def corrupt(): Unit = {
    val bucket = new java.io.File(dest.toString).listFiles().filter(_.getName.startsWith("_bucket=")).head
    Files2.deleteTree(bucket.toPath)
  }

  def plantedSummary: Map[String, Any] = Map("events_per_tick" -> eventsPerTick, "keys" -> keys,
    "ticks" -> (tick - 1), "live_keys" -> expected(0))
}
