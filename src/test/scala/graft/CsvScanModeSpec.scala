package graft

import graft.job.JobMetrics
import graft.model.FieldMapping
import graft.sources.Readers
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Differential spec for the CSV scan-mode rule (`Readers.csv`): every
  * file is read through `Readers.csv` and through a forced multiLine
  * read with the same options; the rows must be identical, and the
  * chosen mode must be the expected one. The session shrinks Spark's
  * split size to 64 bytes so that small files split. */
class CsvScanModeSpec extends SparkTestBase {

  // same SparkContext, its own SQL conf
  private lazy val small: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.files.maxPartitionBytes", "64")
    s
  }

  /** Counts the probe's Spark jobs; `settle` waits until the listener
    * has seen every job submitted before it. */
  private final class ProbeJobs extends SparkListener {
    @volatile var probes = 0
    @volatile var markers = 0
    @volatile var others = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      if (p.exists(_.getProperty(Readers.ProbeJobProperty) != null)) probes += 1
      else if (p.exists(_.getProperty("spark.jobGroup.id") == "scanmode-marker")) markers += 1
      else others += 1
    }
    def settle(): Unit = {
      val before = markers
      spark.sparkContext.setJobGroup("scanmode-marker", "marker", interruptOnCancel = false)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (markers == before && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(markers > before, "listener bus did not drain")
    }
  }

  private val header = "id,name,note"
  private val rows = (1 to 8).map(i => s"""$i,name$i,"note, $i"""")
  private def lines(ls: Seq[String], sep: String = "\n"): Array[Byte] =
    ls.map(_ + sep).mkString.getBytes(UTF_8)
  private val plain = lines(header +: rows)

  private def multiLineMode(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.options.collectFirst { case (k, v) if k.equalsIgnoreCase("multiLine") => v.toBoolean }
    }.flatten.getOrElse(fail("no file relation in the plan"))

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(v => String.valueOf(v)).mkString("\u0001")).toSeq.sorted

  /** Writes `files` into a fresh directory and checks both reads agree;
    * returns (line mode chosen, probe jobs run). */
  private def differential(name: String, files: Seq[(String, Array[Byte])],
                           delimiter: String = ",", encoding: String = "UTF-8",
                           header: Boolean = true,
                           session: SparkSession = small): (Boolean, Int) = {
    val dir = tmpDir(s"scanmode_$name")
    files.foreach { case (f, bytes) => Files.write(Paths.get(dir, f), bytes) }
    val mappings = Seq("id", "name", "note").map(c => FieldMapping(c, c))
    val jobs = new ProbeJobs
    spark.sparkContext.addSparkListener(jobs)
    val got = try {
      val df = Readers.csv(session, dir, mappings, delimiter = delimiter,
        header = header, encoding = encoding)
      jobs.settle()
      df
    } finally spark.sparkContext.removeSparkListener(jobs)
    val r = session.read.option("delimiter", delimiter).option("encoding", encoding)
      .option("quote", "\"").option("escape", "\"").option("multiLine", "true")
      .option("header", header.toString)
    val want = if (header) r.csv(dir)
      else r.schema("id STRING, name STRING, note STRING").csv(dir)
    assert(got.columns.toSeq == want.columns.toSeq, s"$name: columns")
    assert(sorted(got) == sorted(want), s"$name: rows differ")
    (!multiLineMode(got), jobs.probes)
  }

  private def lineMode(name: String, files: (String, Array[Byte])*): Unit = {
    val (line, probes) = differential(name, files)
    assert(line && probes == 1, s"$name: line=$line probes=$probes")
  }

  private def multiLine(name: String, files: (String, Array[Byte])*): Unit = {
    val (line, probes) = differential(name, files)
    assert(!line && probes == 1, s"$name: line=$line probes=$probes")
  }

  test("single-line records take the splittable line mode") {
    lineMode("plain", "a.csv" -> plain)
    lineMode("crlf", "a.csv" -> lines(header +: rows, "\r\n"))
    lineMode("empty quoted and escaped quotes", "a.csv" ->
      lines(header +: rows :+ "9,\"\",\"say \"\"hi\"\", ok\""))
    val (tab, probes) = differential("tab", Seq("a.csv" ->
      lines((header +: rows).map(_.replace(",", "\t")))), delimiter = "\t")
    assert(tab && probes == 1)
    val (headerless, _) = differential("headerless", Seq("a.csv" -> lines(rows)), header = false)
    assert(headerless)
    // Hadoop's line reader skips a BOM that starts the file, as the
    // multiLine parse does, so the probe never sees it
    lineMode("leading bom", "a.csv" -> ("\uFEFF" + new String(plain, UTF_8)).getBytes(UTF_8))
    // per file line ends: one CRLF file beside one LF file
    lineMode("crlf and lf files", "a.csv" -> lines(header +: rows, "\r\n"),
      "b.csv" -> lines(header +: rows.map("1" + _)))
  }

  test("a line that may not hold one whole record keeps the multiLine scan") {
    multiLine("embedded newline", "a.csv" -> lines(header +: rows :+ "9,x,\"two\nlines\""))
    multiLine("quote opened past the line", "a.csv" -> lines(header +: rows :+ "x\"y,\"a" :+ "b\",c"))
    multiLine("lone cr", "a.csv" -> lines(header +: rows :+ "9,a\rb,c"))
    multiLine("bom starting a later line", "a.csv" -> lines(header +: rows :+ "\uFEFF9,x,y"))
    multiLine("blank line", "a.csv" -> lines((header +: rows) :+ "" :+ "9,x,y"))
    multiLine("whitespace-only line", "a.csv" -> lines((header +: rows) :+ " \t " :+ "9,x,y"))
    multiLine("mid-field quote", "a.csv" -> lines(header +: rows :+ "9,ab\"c,d"))
    multiLine("text after a closing quote", "a.csv" -> lines(header +: rows :+ "9,\"a\"x,d"))
    // both orders: multiLine keeps the \r of a CRLF line in an LF file,
    // and joins an LF line to the next in a CRLF file
    val bare = (1 to 8).map(i => s"$i,name$i,note$i")
    multiLine("lf then crlf", "a.csv" -> (lines(header +: bare.take(4)) ++ lines(bare.drop(4), "\r\n")))
    multiLine("crlf then lf", "a.csv" -> (lines(header +: bare.take(4), "\r\n") ++ lines(bare.drop(4))))
    multiLine("crlf ending in a lone cr", "a.csv" -> lines(header +: rows, "\r\n").dropRight(1))
    multiLine("crlf without a final line end", "a.csv" -> lines(header +: rows, "\r\n").dropRight(2))
    multiLine("headers differ", "a.csv" -> plain,
      "b.csv" -> lines("id,other,note" +: rows.map("1" + _)))
    // one multi-line record anywhere sends the whole listing to multiLine
    multiLine("one file of several", "a.csv" -> plain, "b.csv" -> plain,
      "c.csv" -> lines(header +: rows :+ "9,x,\"two\nlines\""))
  }

  test("options the probe cannot vouch for skip it") {
    val latin1 = new String(lines(header +: rows :+ "9,café,x"), UTF_8).getBytes("ISO-8859-1")
    val (line1, probes1) = differential("latin1", Seq("a.csv" -> latin1), encoding = "ISO-8859-1")
    assert(!line1 && probes1 == 0)
    // below the split size: line mode cannot add a task, so no probe
    val (line2, probes2) = differential("one split", Seq("a.csv" -> lines(header +: rows.take(1))))
    assert(!line2 && probes2 == 0)
    val (line3, probes3) = differential("default split size", Seq("a.csv" -> plain), session = spark)
    assert(!line3 && probes3 == 0)
  }

  test("the probe's reads do not count toward a job group's progress counters") {
    val dir = tmpDir("scanmode_progress")
    val many = lines(header +: (1 to 400).map(i => s"$i,name$i,note$i"))
    Files.write(Paths.get(dir, "a.csv"), many)
    val m = new JobMetrics(small)
    val jobs = new ProbeJobs
    spark.sparkContext.addSparkListener(jobs)
    try {
      spark.sparkContext.setJobGroup("scanmode-progress", "probe", interruptOnCancel = false)
      val df = try Readers.csv(small, dir, Nil) finally spark.sparkContext.clearJobGroup()
      jobs.settle()
      assert(!multiLineMode(df) && jobs.probes == 1)
      // header inference reads a line or so; the probe read all 401
      val read = m.counters("scanmode-progress").map(_.recordsRead.get).getOrElse(0L)
      assert(read > 0 && read < 100, s"recordsRead=$read")
      assert(df.count() == 400)
    } finally { spark.sparkContext.removeSparkListener(jobs); m.close() }
  }

  test("a declared line-mode read names columns from the probed header by Spark's rules, " +
      "with no inference job") {
    val sensitive = small.newSession()
    sensitive.conf.set("spark.sql.files.maxPartitionBytes", "64")
    sensitive.conf.set("spark.sql.caseSensitive", "true")
    Seq(
      ("duplicates", "id,id,note", small),
      ("blank names", "id,,\"\"", small),
      ("case-insensitive duplicates", "id,ID,note", small),
      ("case-sensitive names", "id,ID,note", sensitive),
      ("quoted names", "\"i d\",\"na,me\",\"say \"\"x\"\"\"", small)
    ).foreach { case (name, head, session) =>
      val dir = tmpDir("scanmode_header")
      Files.write(Paths.get(dir, "a.csv"), lines(head +: rows))
      val jobs = new ProbeJobs
      spark.sparkContext.addSparkListener(jobs)
      val got = try {
        val df = Readers.csv(session, dir, Seq(FieldMapping("id", "id")))
        jobs.settle()
        df
      } finally spark.sparkContext.removeSparkListener(jobs)
      assert(!multiLineMode(got) && jobs.probes == 1 && jobs.others == 0,
        s"$name: probes=${jobs.probes} other jobs=${jobs.others}")
      // Spark's own read, which infers the header in a job of its own
      val want = session.read.option("quote", "\"").option("escape", "\"")
        .option("multiLine", "false").option("header", "true").csv(dir)
      assert(got.schema === want.schema, name)
      assert(sorted(got) == sorted(want), s"$name: rows differ")
    }
    // Spark names columns from the first line that is not blank; a file
    // that opens with a blank line keeps the multiLine scan, so the
    // probe's first line is never a blank one
    multiLine("leading blank line", "a.csv" -> lines("" +: header +: rows))
  }
}
