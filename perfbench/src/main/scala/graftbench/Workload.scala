package graftbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Job notifier that stays quiet: results are checked, not logged. */
object Silent extends graft.job.JobRunner.Notifier {
  def notify(r: graft.job.JobRunner.JobResult): Unit = ()
}

/** What one op returns: the rows it committed, the bytes of input it
  * consumed, and any output-check failures. */
final case class OpOutcome(rows: Long, inputBytes: Long, errors: Seq[String])

/**
 * One benchmark workload. The harness calls `prepare` once (untimed
 * input generation), then `warmUp(i)` for i < `warmUpOps` (untimed), then `op` in a closed
 * loop from `clients` threads. `op` times only its calls into graft
 * through `timed`; generation and checks around them are untimed.
 */
abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long,
                        val scale: Double, val tracer: Tracer) {
  def name: String
  def clients: Int = 1
  def prepare(): Unit
  /** Untimed warm-up ops before the window. A fixed count rather than a
    * fixed time: op latency falls for several ops while the JIT compiles
    * Spark's and graft's paths, and a time-based warm-up would start the
    * window further down that slope on a fast host than on a slow one. */
  def warmUpOps: Int = 3
  def warmUp(i: Int): Seq[String]
  /** Run one op; `timed` must wrap exactly the part that counts as op latency. */
  def op(client: Int, opId: Long, timed: Timed): OpOutcome
  /** Checks of the final state, after the loop. */
  def finalCheck(): Seq[String]
  /** Deliberately damage the output so that `finalCheck` must fail. */
  def corrupt(): Unit
  /** Directories whose bytes count as what the workload left on disk. */
  def outputDirs: Seq[Path]
  /** Bytes of the generated inputs that the output directories derive from. */
  def consumedBytes: Long
  /** What the generator planted, for the result file. */
  def plantedSummary: Map[String, Any]
  /** Probe of the cast cost (seconds), traced runs only. */
  def castProbe(): Double = 0.0

  /** No-op write of a config's mapped scan minus no-op write of its raw
    * scan, best of three each: what the mapping casts and rules cost. */
  protected def castProbeOf(configJson: String): Double = {
    val cfg = graft.model.JobConfig.fromJson(configJson)
    val raw = graft.sources.Readers.forConfig(spark, cfg.source, cfg.mappings)
    val mapped = graft.operators.MappingOp(raw, cfg.mappings, cfg.source.connectionDetails.filter)
    def noop(df: org.apache.spark.sql.DataFrame): Double = (1 to 3).map { _ =>
      val t0 = Clock.nowMs
      df.write.format("noop").mode("overwrite").save()
      (Clock.nowMs - t0) / 1000.0
    }.min
    noop(mapped) - noop(raw)
  }

  protected def sized(n: Int, min: Int = 1): Int = math.max(min, math.round(n * scale).toInt)
  protected def dir(parts: String*): Path = {
    val p = parts.foldLeft(work)(_.resolve(_))
    Files.createDirectories(p)
    p
  }
}

/** Handed to `op`: wraps the timed section, records its bounds and,
  * when tracing, makes it the op's root span. */
final class Timed(tracer: Tracer, opId: Long) {
  var start = 0.0
  var end = 0.0
  def apply[T](f: => T): T = {
    start = Clock.nowMs
    try tracer.op(opId)(f) finally end = Clock.nowMs
  }
}

object Files2 {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Data files (not `_`/`.` marker or checksum files) modified at or after `sinceMs`. */
  def dataFilesSince(dirs: Seq[Path], sinceMs: Double): Long = dirs.filter(Files.exists(_)).map { d =>
    val s = Files.walk(d)
    try s.iterator().asScala.count { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".") &&
        Files.getLastModifiedTime(f).toMillis >= sinceMs - 1
    }.toLong
    finally s.close()
  }.sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Move the single `part-*` file Spark wrote under `dir` to `target`. */
  def movePart(dir: Path, suffix: String, target: Path): Long = {
    val part = new File(dir.toString).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(suffix))
    require(part.length == 1, s"expected one part file under $dir, got ${part.length}")
    Files.createDirectories(target.getParent)
    Files.move(part.head.toPath, target, StandardCopyOption.ATOMIC_MOVE)
    deleteTree(dir)
    Files.size(target)
  }

  def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32()
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }
}

object Workloads {
  def apply(name: String, spark: SparkSession, work: Path, seed: Long, scale: Double,
            tracer: Tracer): Workload = name match {
    case "bulk_load" => new BulkLoad(spark, work, seed, scale, tracer)
    case "small_jobs" => new SmallJobs(spark, work, seed, scale, tracer)
    case "stream_upsert" => new StreamUpsert(spark, work, seed, scale, tracer)
    case "dedup_ingest" => new DedupIngest(spark, work, seed, scale, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}
