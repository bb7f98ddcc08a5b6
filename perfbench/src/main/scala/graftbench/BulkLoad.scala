package graftbench

import graft.job.JobRunner
import graft.model.JobConfig
import java.nio.file.{Files, Path}
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.mutable

/**
 * bulk_load: repeated full loads of one generated CSV export through
 * [VALIDATE_SOURCE, LOAD, VALIDATE_LOAD] with casts, trim/uppercase
 * rules, a source filter, ROUTE_TO_FILE errors and a parquet sink.
 *
 * The generator plants ~1% bad rows, one fault each: an unparsable
 * integer, an unparsable decimal, an impossible timestamp or an empty
 * (null) key. About 5% of rows carry region `zz`, which the filter drops.
 */
final class BulkLoad(spark: SparkSession, work: Path, seed: Long, scale: Double, tracer: Tracer)
    extends Workload(spark, work, seed, scale, tracer) {
  def name = "bulk_load"
  val rows: Int = sized(100000, 200)
  private val csv = dir("in").resolve("export.csv")
  private val dest = work.resolve("out").resolve("orders")
  private val err = work.resolve("out").resolve("errors")
  def outputDirs: Seq[Path] = Seq(dest, err)
  // every op overwrites the same destination from the same file
  def consumedBytes: Long = inputBytes

  /** What the generator planted in one export file. */
  final class Planted {
    var filtered = 0L
    val bad = mutable.Set.empty[Int]
    val badKinds = mutable.Map.empty[String, Int].withDefaultValue(0)
    // destination checksum over good rows: count, ids, quantities,
    // price cents, epoch seconds, active flags, crc32(customer|REGION)
    val expected = Array.fill(7)(0L)
  }
  val planted = new Planted
  private var inputBytes = 0L

  // a small export with the same shape: warm-up ops on it run the same
  // planning, job and commit paths as a full load at a fraction of the cost
  val warmRows: Int = math.max(200, rows / 50)
  private val warmCsv = dir("in").resolve("warm.csv")
  private val warmDest = work.resolve("warm").resolve("orders")
  private val warmErr = work.resolve("warm").resolve("errors")
  val warmPlanted = new Planted

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm:ss")
  private val BoolTexts = Vector("Y", "N", "true", "false", "1", "0")
  private val FaultKinds = Vector("null_key", "bad_integer", "bad_decimal", "bad_timestamp")

  def prepare(): Unit = {
    generate(csv, rows, seed * 7919 + 1, planted)
    generate(warmCsv, warmRows, seed * 7919 + 2, warmPlanted)
    inputBytes = Files.size(csv)
  }

  private def generate(path: Path, n: Int, rndSeed: Long, p: Planted): Unit = {
    val rnd = new scala.util.Random(rndSeed)
    val regions = Array("north", "south", "east", "west", "central")
    val w = Files.newBufferedWriter(path)
    try {
      w.write("id,qty,price,ts,active,name,region,note\n")
      var i = 0
      while (i < n) {
        val id = 10000000000L + i
        val qty = rnd.nextInt(10000)
        val cents = rnd.nextInt(10000000).toLong
        val epoch = 1704067200L + rnd.nextInt(365 * 86400)
        val tsText = LocalDateTime.ofEpochSecond(epoch, 0, ZoneOffset.UTC).format(tsFmt)
        val activeText = BoolTexts(rnd.nextInt(BoolTexts.length))
        val active = Set("Y", "true", "1")(activeText)
        val cust = s"Cust${rnd.nextInt(50000)}${"abcdefghij".charAt(rnd.nextInt(10))}"
        val region = if (rnd.nextDouble() < 0.05) "zz" else regions(rnd.nextInt(regions.length))
        val fault = if (rnd.nextDouble() < 0.01) rnd.nextInt(4) else -1
        val idText = if (fault == 0) "" else id.toString
        val qtyText = if (fault == 1) s"${qty}x" else qty.toString
        val priceText = if (fault == 2) s"${cents / 100}.${cents % 100}.5" else f"${cents / 100}%d.${cents % 100}%02d"
        val tsOut = if (fault == 3) "2024/02/30 25:61:00" else tsText
        val note = s"r$i order note, seed $seed"
        w.write(s"""$idText,$qtyText,$priceText,$tsOut,$activeText,  $cust ,$region,"$note"\n""")
        if (region != "zz") {
          p.filtered += 1
          if (fault >= 0) {
            p.bad += i
            p.badKinds(FaultKinds(fault)) += 1
          } else {
            val e = p.expected
            e(0) += 1; e(1) += id; e(2) += qty; e(3) += cents
            e(4) += epoch; e(5) += (if (active) 1 else 0)
            e(6) += Files2.crc32(s"$cust|${region.toUpperCase}")
          }
        }
        i += 1
      }
    } finally w.close()
  }

  def config(jobId: String, csv: Path = csv, dest: Path = dest, err: Path = err): String =
    s"""{"jobId":"$jobId","jobName":"bulk_load",
       |"source":{"type":"CSV","connectionDetails":{"path":"$csv","includeHeader":true,
       |  "filter":"region <> 'zz'"}},
       |"destination":{"type":"PARQUET","connectionDetails":{"path":"$dest"},"saveMode":"overwrite"},
       |"mappings":[
       | {"sourceFieldName":"id","destinationFieldName":"order_id","destFieldType":"LONG","isDestNullable":false},
       | {"sourceFieldName":"qty","destinationFieldName":"quantity","destFieldType":"INTEGER","isDestNullable":false},
       | {"sourceFieldName":"price","destinationFieldName":"unit_price","destFieldType":"DECIMAL(12,2)","isDestNullable":false},
       | {"sourceFieldName":"ts","destinationFieldName":"ordered_at","destFieldType":"TIMESTAMP",
       |  "formatPattern":"yyyy/MM/dd HH:mm:ss","isDestNullable":false},
       | {"sourceFieldName":"active","destinationFieldName":"is_active","destFieldType":"BOOLEAN","isDestNullable":false},
       | {"sourceFieldName":"name","destinationFieldName":"customer","transformationRule":"TRIM"},
       | {"sourceFieldName":"region","destinationFieldName":"region","transformationRule":"UPPERCASE"},
       | {"sourceFieldName":"note","destinationFieldName":"note"}],
       |"errorHandling":{"strategy":"ROUTE_TO_FILE","errorFilePath":"$err"},
       |"steps":["VALIDATE_SOURCE","LOAD","VALIDATE_LOAD"]}""".stripMargin

  private def runOnce(jobId: String, warm: Boolean = false): JobRunner.JobResult = {
    val json = if (warm) config(jobId, warmCsv, warmDest, warmErr) else config(jobId)
    val cfg = tracer.span("JobConfig.fromJson", "model")(JobConfig.fromJson(json))
    tracer.span("JobRunner.run", "job")(JobRunner.run(spark, cfg, Silent))
  }

  private def checkResult(r: JobRunner.JobResult, p: Planted = planted): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (r.status != JobRunner.Completed) errs += s"bulk_load job ${r.jobId}: ${r.status}"
    else {
      if (r.recordsWritten + r.recordsFailed != p.filtered)
        errs += s"bulk_load: written ${r.recordsWritten} + failed ${r.recordsFailed} != filtered rows ${p.filtered}"
      if (r.recordsFailed != p.bad.size)
        errs += s"bulk_load: recordsFailed ${r.recordsFailed} != planted bad rows ${p.bad.size}"
    }
    errs.result()
  }

  /** The first loads take the small export and warm the per-job paths
    * (config, planning, job launch, commit) at a fraction of the cost;
    * the last two are full loads, so that the per-row paths (CSV parse,
    * casts, parquet encode) are compiled for the window's input and not
    * for the small one. */
  override def warmUpOps: Int = 6
  def warmUp(i: Int): Seq[String] =
    if (i >= warmUpOps - 2) checkResult(runOnce(s"bulk-warm-$i"))
    else checkResult(runOnce(s"bulk-warm-$i", warm = true), warmPlanted)

  def op(client: Int, opId: Long, timed: Timed): OpOutcome = {
    val jobId = s"bulk-$opId"
    tracer.bindJobId(jobId, opId)
    val r = timed(runOnce(jobId))
    OpOutcome(rows, inputBytes, checkResult(r))
  }

  def finalCheck(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val got = spark.read.parquet(dest.toString).agg(
      count(lit(1)), sum("order_id"), sum("quantity"),
      sum((col("unit_price") * 100).cast("long")), sum(unix_seconds(col("ordered_at"))),
      sum(when(col("is_active"), 1L).otherwise(0L)),
      sum(crc32(concat_ws("|", col("customer"), col("region")).cast("binary")))).head()
    val gotArr = (0 until 7).map(i => if (got.isNullAt(i)) 0L else got.getAs[Number](i).longValue)
    val expected = planted.expected.toSeq
    if (gotArr != expected)
      errs += s"bulk_load: destination checksum ${gotArr.mkString(",")} != expected ${expected.mkString(",")}"
    val routed = spark.read.option("header", "true").option("multiLine", "true").csv(err.toString)
      .select("note").collect().map(r => Option(r.getString(0)).getOrElse(""))
    val routedIds = routed.map(n => n.takeWhile(_ != ' ').stripPrefix("r").toInt).toSet
    val bad = planted.bad
    if (routed.length != bad.size || routedIds != bad.toSet)
      errs += s"bulk_load: error file holds ${routed.length} rows, expected the ${bad.size} planted bad rows"
    errs.result()
  }

  def corrupt(): Unit = {
    val part = new java.io.File(dest.toString).listFiles().filter(_.getName.startsWith("part-")).head
    Files.delete(part.toPath)
  }

  override def castProbe(): Double = castProbeOf(config("bulk-probe"))

  def plantedSummary: Map[String, Any] = Map("rows" -> rows, "filtered" -> planted.filtered,
    "bad" -> planted.bad.size, "bad_kinds" -> planted.badKinds.toMap, "warm_up_rows" -> warmRows)
}
