package graftbench

import graft.job.JobRunner
import graft.model.JobConfig
import java.nio.file.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.collection.mutable

/**
 * dedup_ingest: successive document batches go through the
 * INGEST_DEDUP_DESTINATION job step. Each batch has generated text
 * with planted near-duplicates of documents in the same batch and in
 * earlier ones; the standing state grows batch by batch.
 *
 * A planted copy replaces two words of its original, which keeps the
 * exact word-3-shingle Jaccard at or above 0.75 (checked when it is
 * planted), above graft's 0.7 threshold.
 */
final class DedupIngest(spark: SparkSession, work: Path, seed: Long, scale: Double, tracer: Tracer)
    extends Workload(spark, work, seed, scale, tracer) {
  def name = "dedup_ingest"
  val docsPerBatch: Int = sized(16000, 40)
  val Floor = 0.7 // graft's num/den; the benchmark computes exact Jaccard itself
  private val inDir = dir("in")
  private val dest = work.resolve("out").resolve("dedup")
  def outputDirs: Seq[Path] = Seq(dest)
  def consumedBytes: Long = ingestedBytes

  private val rnd = new scala.util.Random(seed * 7919 + 4)
  private val vocab = Array.tabulate(3000) { _ =>
    (1 to 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
  }
  private val texts = mutable.ArrayBuffer.empty[String] // doc id = index
  private var batch = 0L
  private var nextBatch: Option[(Path, Long, Long, Set[(Long, Long)])] = None
  val planted = mutable.Map.empty[Long, Set[(Long, Long)]]
  private var reportedTotal = 0L
  private var ingestedBytes = 0L

  def shingles(t: String): Set[String] = t.split(" ", -1).sliding(3).filter(_.length == 3)
    .map(_.mkString(" ")).toSet

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.intersect(y).size.toDouble
    inter / (x.size + y.size - inter)
  }

  private def freshDoc(): String =
    Array.fill(40 + rnd.nextInt(30))(vocab(rnd.nextInt(vocab.length))).mkString(" ")

  private def generate(): Unit = {
    val b = batch
    val first = texts.size.toLong
    val pairs = Set.newBuilder[(Long, Long)]
    (0 until docsPerBatch).foreach { i =>
      val id = texts.size.toLong
      val r = rnd.nextDouble()
      val sourceId =
        if (r < 0.05 && i > 0) Some(first + rnd.nextInt(i)) // within this batch
        else if (r < 0.10 && first > 0) Some(rnd.nextLong(first)) // an earlier batch
        else None
      val text = sourceId match {
        case Some(src) =>
          val words = texts(src.toInt).split(" ")
          var copy = words.mkString(" ")
          while ({
            val w = words.clone()
            (1 to 2).foreach(_ => w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.length)))
            copy = w.mkString(" ")
            jaccard(copy, texts(src.toInt)) < 0.75
          }) ()
          pairs += ((math.min(src, id), math.max(src, id)))
          copy
        case None => freshDoc()
      }
      texts += text
    }
    val rows = (first until texts.size.toLong).map(id => Row(id, texts(id.toInt)))
    val tmp = work.resolve(s"gen-$b")
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema).write.parquet(tmp.toString)
    val file = inDir.resolve(f"batch-$b%05d.parquet")
    val bytes = Files2.movePart(tmp, ".parquet", file)
    nextBatch = Some((file, b, bytes, pairs.result()))
    batch += 1
  }

  def prepare(): Unit = generate()

  private def config(jobId: String, file: Path, b: Long): String =
    s"""{"jobId":"$jobId","jobName":"dedup_ingest",
       |"source":{"type":"PARQUET","connectionDetails":{"path":"$file"}},
       |"destination":{"type":"PARQUET","connectionDetails":{"path":"$dest"}},
       |"transformation":{"type":"NONE","parameters":{"ingestIdColumn":"doc_id",
       |  "ingestTextColumn":"text","ingestBatchId":"$b"}},
       |"steps":["INGEST_DEDUP_DESTINATION"]}""".stripMargin

  private def checkBatch(b: Long, expectedPairs: Set[(Long, Long)]): Seq[String] = {
    val reported = spark.read.parquet(s"$dest/pairs/batch=$b").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    reportedTotal += reported.size
    val missing = expectedPairs -- reported
    val low = reported.filter { case (a, c) => jaccard(texts(a.toInt), texts(c.toInt)) < Floor }
    Seq(
      if (missing.nonEmpty) Some(s"dedup_ingest: batch $b missed ${missing.size} planted pairs, e.g. ${missing.head}") else None,
      if (low.nonEmpty) Some(s"dedup_ingest: batch $b reported ${low.size} pairs below Jaccard $Floor, e.g. ${low.head}") else None
    ).flatten
  }

  private def runBatch(jobId: String, timed: Timed): (Long, Seq[String]) = {
    val (file, b, bytes, pairs) = nextBatch.get
    val r = timed {
      val cfg = tracer.span("JobConfig.fromJson", "model")(JobConfig.fromJson(config(jobId, file, b)))
      tracer.span("JobRunner.run", "job")(JobRunner.run(spark, cfg, Silent))
    }
    planted(b) = pairs
    ingestedBytes += bytes
    nextBatch = None
    val errs =
      if (r.status != JobRunner.Completed) Seq(s"dedup_ingest: batch $b ${r.status}")
      else checkBatch(b, pairs)
    generate()
    (bytes, errs)
  }

  override def warmUpOps: Int = 2
  def warmUp(i: Int): Seq[String] = runBatch("dedup-warmup", new Timed(tracer, -1))._2

  def op(client: Int, opId: Long, timed: Timed): OpOutcome = {
    val jobId = s"dedup-$opId"
    tracer.bindJobId(jobId, opId)
    val (bytes, errs) = runBatch(jobId, timed)
    OpOutcome(docsPerBatch, bytes, errs)
  }

  def finalCheck(): Seq[String] = {
    val all = spark.read.parquet(s"$dest/pairs").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = planted.values.flatten.toSet -- all
    Seq(
      if (missing.nonEmpty) Some(s"dedup_ingest: ${missing.size} planted pairs missing from pairs/") else None,
      if (all.size != reportedTotal) Some(s"dedup_ingest: pairs/ holds ${all.size} pairs, batches reported $reportedTotal") else None
    ).flatten
  }

  def corrupt(): Unit = {
    val b = planted.maxBy(_._2.size)._1
    Files2.deleteTree(dest.resolve("pairs").resolve(s"batch=$b"))
  }

  def plantedSummary: Map[String, Any] = Map("docs_per_batch" -> docsPerBatch,
    "batches" -> planted.size, "planted_pairs" -> planted.values.map(_.size).sum,
    "reported_pairs" -> reportedTotal)
}
