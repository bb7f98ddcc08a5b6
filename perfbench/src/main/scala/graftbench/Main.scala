package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * Benchmark JVM. Started by run.py, it prints `GRAFTBENCH_READY` once
 * the session is up and warmed (run.py times set-up from outside),
 * then generates the workload's inputs, runs the closed loop for the
 * requested seconds, checks the outputs and writes a result file.
 *
 *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
 *                   --work DIR --out FILE --cores N [--scale X] [--corrupt] [--probe]
 */
object Main {
  val WarmUpCapS = 20.0
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val flags = argv.filter(_.startsWith("--")).toSet
    val work = Paths.get(args("--work")).toAbsolutePath
    val cores = args("--cores").toInt
    Files.createDirectories(work)
    val spark = startSession(work, cores)
    println("GRAFTBENCH_READY")
    System.out.flush()
    if (flags("--probe")) {
      spark.stop()
      sys.exit(0)
    }
    val code = try run(spark, args, flags, work, cores) finally spark.stop()
    sys.exit(code)
  }

  /** Session start plus a warm-up query: this is what set-up time covers. */
  def startSession(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 1000, 1, cores).selectExpr("sum(id)").collect()
    spark
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def persistedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Highest percentile with at least ten samples beyond it. Below 21
    * samples that percentile is not above the median, and the maximum
    * is reported instead (as percentile 100). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 21) (s.lastOption.getOrElse(0.0), 100.0)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  def run(spark: SparkSession, args: Map[String, String], flags: Set[String], work: Path,
          cores: Int): Int = {
    val name = args("--workload")
    val seed = args("--seed").toLong
    val seconds = args("--seconds").toDouble
    val traceMode = args.getOrElse("--trace", "0") == "1"
    val scale = args.getOrElse("--scale", "1").toDouble
    val tracer = new Tracer
    val wl = Workloads(name, spark, work.resolve("data"), seed, scale, tracer)
    val errors = new ConcurrentLinkedQueue[String]()
    def guard(what: String)(f: => Seq[String]): Unit =
      try f.foreach(errors.add)
      catch { case NonFatal(e) => errors.add(s"$name $what: ${e.getClass.getSimpleName}: ${e.getMessage}") }

    val g0 = Clock.nowMs
    wl.prepare()
    val genS = (Clock.nowMs - g0) / 1000
    if (traceMode) {
      spark.sparkContext.addSparkListener(tracer.sparkListener)
      spark.streams.addListener(tracer.streamListener)
    }
    // warm up for the workload's op count; the cap keeps a run on a very
    // slow host within its time limit
    val w0 = Clock.nowMs
    val warmLat = Seq.newBuilder[Double]
    var nWarm = 0
    while (nWarm < wl.warmUpOps && errors.isEmpty && Clock.nowMs - w0 < WarmUpCapS * 1000) {
      val s0 = Clock.nowMs
      guard("warm-up")(wl.warmUp(nWarm))
      warmLat += (Clock.nowMs - s0) / 1000
      nWarm += 1
    }
    val warmS = (Clock.nowMs - w0) / 1000

    // closed loop: each client starts its next op when the previous returns
    val ops = new ConcurrentLinkedQueue[OpRec]()
    val opIds = new AtomicLong()
    val t0 = Clock.nowMs
    val deadline = t0 + seconds * 1000
    // traced runs: the first third untraced, for the overhead comparison
    val tracedFrom = if (traceMode) t0 + seconds * 1000 / 3 else Double.MaxValue
    val minOpsPerClient = 2
    val threads = (0 until wl.clients).map { c =>
      new Thread(() => {
        var mine = 0
        while (Clock.nowMs < deadline || mine < minOpsPerClient) {
          if (!tracer.enabled && Clock.nowMs >= tracedFrom) tracer.enabled = true
          val traced = tracer.enabled
          val id = opIds.incrementAndGet()
          val timed = new Timed(tracer, id)
          val out = try wl.op(c, id, timed)
          catch { case NonFatal(e) =>
            OpOutcome(0, 0, Seq(s"$name op $id: ${e.getClass.getSimpleName}: ${e.getMessage}"))
          }
          val rec = OpRec(id, c, timed.start, timed.end, traced, out.rows, out.inputBytes, out.errors,
            if (traced) Files2.dataFilesSince(wl.outputDirs, timed.start) else 0L,
            if (traced) persistedMb(spark) else 0.0)
          ops.add(rec)
          mine += 1
        }
      }, s"graftbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    tracer.enabled = false
    val all = ops.asScala.toSeq.sortBy(_.start)
    all.foreach(_.errors.foreach(errors.add))

    var castS = 0.0
    if (traceMode) {
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      try castS = wl.castProbe()
      catch { case NonFatal(e) => errors.add(s"$name cast probe: ${e.getMessage}") }
    }
    if (flags("--corrupt")) wl.corrupt()
    guard("final check")(wl.finalCheck())

    val lat = all.map(_.ms / 1000)
    val (tailS, tailPct) = tail(lat)
    val wallS = TraceAnalysis.unionMs(all.map(o => (o.start, o.end))) / 1000
    val diskBytes = wl.outputDirs.map(Files2.bytesUnder).sum
    val e2e = Map(
      "latency_p50_s" -> median(lat),
      "latency_tail_s" -> tailS,
      "rows_per_s" -> all.map(_.rows).sum / wallS,
      "jobs_per_s" -> all.size / wallS,
      "peak_rss_mb" -> vmHwmMb(),
      "disk_bytes_per_input_byte" -> diskBytes.toDouble / math.max(1L, wl.consumedBytes)
    )
    val failedOps = all.count(_.errors.nonEmpty)
    val otherErrors = errors.size - all.map(_.errors.size).sum
    val failed = math.min(all.size, failedOps + (if (otherErrors > 0) 1 else 0))

    var perLayer = Map.empty[String, Double]
    if (traceMode) {
      val untraced = all.filterNot(_.traced).map(_.ms)
      val traced = all.filter(_.traced).map(_.ms)
      val overhead = if (untraced.isEmpty || traced.isEmpty) 0.0 else median(traced) / median(untraced) - 1
      val (m, views) = TraceAnalysis.perLayer(tracer, all, cores, castS, overhead)
      perLayer = m
      val tracePath = Paths.get(args("--out")).resolveSibling(s"trace-$name-$seed.json")
      Files.writeString(tracePath, json.writeValueAsString(Map(
        "workload" -> name, "seed" -> seed, "cores" -> cores,
        "untraced_ops" -> untraced.size, "traced_ops" -> traced.size,
        "untraced_p50_ms" -> median(untraced), "traced_p50_ms" -> median(traced),
        "per_layer" -> m, "ops" -> TraceAnalysis.describe(views))))
    }
    val result = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "scale" -> scale,
      "correct" -> errors.isEmpty, "attempted" -> all.size, "failed" -> failed,
      "errors" -> errors.asScala.toSeq.take(20),
      "generate_s" -> genS, "warmup_s" -> warmS,
      "warmup_ops" -> nWarm, "warmup_latencies_s" -> warmLat.result(),
      "tail_percentile" -> tailPct, "samples" -> all.size,
      "latencies_s" -> lat, "planted" -> wl.plantedSummary,
      "end_to_end" -> e2e, "per_layer" -> perLayer)
    Files.writeString(Paths.get(args("--out")), json.writeValueAsString(result))
    println("GRAFTBENCH_DONE")
    0
  }
}
