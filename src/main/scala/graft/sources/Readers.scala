package graft.sources

import com.univocity.parsers.csv.CsvParser
import graft.model.{FieldMapping, SourceConfig}
import java.nio.charset.{Charset, StandardCharsets}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.annotation.tailrec
import scala.util.Try

/**
 * Source builders: config -> lazy DataFrame scan.
 *
 * Replaces the reference's explicit open/stream/close readers
 * (S1-S9, SURVEY.md §2.1) with Spark DataFrameReader declarations.
 * Projection and predicate pushdown — which the reference hand-builds
 * into a SELECT string (ETLCoreJdbcReader.java:131-162) — fall out of
 * Catalyst once the caller applies `MappingOp` on top of these scans:
 * `.explain` shows PushedFilters + pruned ReadSchema at the parquet/
 * JDBC source.
 */
object Readers {

  def forConfig(spark: SparkSession, cfg: SourceConfig, mappings: Seq[FieldMapping]): DataFrame = {
    val c = cfg.connectionDetails
    cfg.`type`.toUpperCase match {
      case "PARQUET" =>
        // mergeSchema: schema drift across load batches — the union
        // schema over every file's footer, NULLs where a file predates
        // a column. Opt-in (ConnectionDetails.mergeSchema): merging
        // reads all footers at planning time.
        c.mergeSchema.fold(spark.read)(m =>
          spark.read.option("mergeSchema", m.toString)).parquet(requirePath(cfg))
      case "ORC" =>
        // Columnar like parquet: pruning/pushdown/vectorized read all
        // apply; ORC's row-group (stripe) stats skip the same way.
        c.mergeSchema.fold(spark.read)(m =>
          spark.read.option("mergeSchema", m.toString)).orc(requirePath(cfg))
      case "CSV" | "FLAT_FILE" | "DELIMITED" =>
        // linesToSkip=1 usually MEANS "skip the header" (reference
        // convention) — but with an explicit includeHeader=false that
        // one line is a non-header preamble and must still be skipped.
        val headerVal = c.includeHeader.getOrElse(c.linesToSkip.contains(1))
        val skip = c.linesToSkip.getOrElse(0) match {
          case n if n > 1          => n
          case 1 if !headerVal     => 1
          case _                   => 0
        }
        csv(spark, requirePath(cfg), mappings,
          delimiter = c.delimiter.getOrElse(","),
          header = headerVal,
          encoding = c.encoding.getOrElse("UTF-8"),
          quote = c.quoteChar.getOrElse("\""),
          linesToSkip = skip)
      case "JSON" =>
        json(spark, requirePath(cfg), mappings)
      case "XML" =>
        // Spark 4 native XML source. Same declared-schema discipline
        // as JSON: no inference pass (unaffordable at 100 TB), strings
        // in, MappingOp casts downstream. rowTag from `tableName`
        // (the closest config analog) or the "row" default.
        val base = spark.read.option("rowTag", c.tableName.getOrElse("row"))
        (if (mappings.nonEmpty)
          base.schema(StructType(
            mappings.map(m => StructField(m.sourceFieldName, StringType, nullable = true))))
        else base).xml(requirePath(cfg))
      case "FIXED_WIDTH" | "FIXED_LENGTH_FILE" =>
        fixedWidth(spark, requirePath(cfg), mappings, c.encoding.getOrElse("UTF-8"))
      case "JDBC" | "ORACLE" | "MSSQL" | "SQLSERVER" =>
        jdbc(spark, cfg)
      case "REST_API" | "REST" =>
        // numPartitions opts into the PAGINATED data-plane scan (one
        // page per partition, executor-parallel); otherwise the
        // control-plane single fetch.
        if (c.numPartitions.exists(_ > 0) && mappings.nonEmpty)
          restPaged(spark, cfg, mappings)
        else rest(spark, cfg, restTransport)
      case other =>
        throw new IllegalArgumentException(s"unsupported source type: $other")
    }
  }

  /** Pluggable REST transport: url -> response body. Swapped for a
    * fake in tests; a real deployment injects an HTTP client. The
    * reference declared REST_API as a source type but never
    * implemented it (etlModel.java:182-190, TODO at
    * ItemReaderFactory.java:95-97). */
  @volatile var restTransport: String => String = { url =>
    val conn = new java.net.URL(url).openConnection()
    conn.setConnectTimeout(10000); conn.setReadTimeout(30000)
    val in = conn.getInputStream
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /**
   * REST source: the driver fetches a JSON(-lines) payload once, then
   * parallelizes it into a DataFrame with inferred schema. This is a
   * CONTROL-plane fetch (config-sized payloads — the reference's
   * REST sources feed job parameters, not bulk data); bulk data over
   * HTTP would need a partitioned DataSource V2, out of scope like
   * the reference's own TODO.
   */
  def rest(spark: SparkSession, cfg: SourceConfig,
           transport: String => String): DataFrame = {
    val url = cfg.connectionDetails.jdbcUrl.orElse(cfg.connectionDetails.pathOrFile)
      .getOrElse(throw new IllegalArgumentException("REST source requires a url (in path or jdbcUrl)"))
    val body = transport(url)
    import spark.implicits._
    spark.read.json(body.linesIterator.filter(_.trim.nonEmpty).toSeq.toDS())
  }

  /** Paginated REST scan via the DataSource V2 connector
    * (RestDataSource): `numPartitions` pages fetched in parallel on
    * executors, declared all-string schema from the mapping source
    * names, column pruning at the source. The url should contain a
    * `{page}` placeholder. */
  def restPaged(spark: SparkSession, cfg: SourceConfig, mappings: Seq[FieldMapping]): DataFrame = {
    val c = cfg.connectionDetails
    val url = c.jdbcUrl.orElse(c.pathOrFile).getOrElse(
      throw new IllegalArgumentException("REST source requires a url (in path or jdbcUrl)"))
    // without the placeholder every partition would fetch the SAME
    // payload and silently multiply rows numPartitions times
    require(url.contains("{page}"),
      s"paginated REST url must contain a {page} placeholder (got: $url); " +
        "drop numPartitions for a single-fetch read")
    spark.read.format(classOf[RestDataSource].getName)
      .option("url", url)
      .option("pages", c.numPartitions.getOrElse(1).toString)
      .option("fields", mappings.map(_.sourceFieldName).mkString(","))
      .load()
  }

  /**
   * CSV scan (reference S5/S6, ItemReaderFactory.java:170-224):
   * all values land as strings (mirroring the tokenizer — casts happen
   * in the mapping stage); headerless files get positional names from
   * mapping order (ItemReaderFactory.java:205-210); quoted fields are
   * honored (`readString`, ItemReaderFactory.java:218).
   *
   * Scan mode. `multiLine=true` (quoted values may span lines) is the
   * default, and it parses each file in ONE task. The scan switches to
   * Spark's splittable line mode only when `singleLineRecords` proves
   * that every record of the listing sits on one line, so both parses
   * give the same rows. That needs: no preamble, a one-character ASCII
   * delimiter, the `"` quote (escape == quote, RFC 4180), UTF-8 or
   * US-ASCII, some splittable file larger than Spark's split size for
   * the listing (else line mode adds no task and the probe is skipped),
   * and one parallel pass over the raw lines that finds no bad line
   * (see `singleLine`), no file mixing CRLF and LF line ends, no CRLF
   * file without a final newline, and, with `header`, one header text
   * across the files. Anything else keeps the multiLine scan.
   */
  def csv(spark: SparkSession, path: String, mappings: Seq[FieldMapping],
          delimiter: String = ",", header: Boolean = true,
          encoding: String = "UTF-8", quote: String = "\"",
          linesToSkip: Int = 0): DataFrame = {
    val probed = if (linesToSkip == 0) singleLineRecords(spark, path, delimiter, encoding, quote, header) else None
    val options = Map(
      "delimiter" -> delimiter,
      "encoding" -> encoding,
      "quote" -> quote,
      "escape" -> "\"", // RFC-4180 doubled-quote escaping (ETLCoreCsvFileWriter.java:174-185)
      "multiLine" -> probed.isEmpty.toString, // values may span newlines when quoted
      "header" -> header.toString)
    val base = spark.read.options(options)
    val schema = StructType(mappings.map(m => StructField(m.sourceFieldName, StringType, nullable = true)))
    if (linesToSkip > 0) {
      // Reference `linesToSkip` (preamble lines before data,
      // ItemReaderFactory.java:202): Spark's CSV reader only knows
      // header=1 line, so drop the preamble per FILE (wholetext keeps
      // each file one record — correct line ordering by construction),
      // then parse the remainder as CSV. A file with BOTH a preamble
      // and a header row (includeHeader=true) keeps header parsing on
      // the remainder — and binds columns BY HEADER NAME (declaring
      // the positional schema together with header=true would bind
      // mapping order to file order positionally and silently swap
      // columns). MEMORY BOUND: wholetext materializes each file as
      // one record, so a single file must fit in executor memory —
      // preamble-style feeds are config-sized; route bulk data through
      // the plain CSV path (no preamble), which streams.
      import spark.implicits._
      val lines = spark.read.option("wholetext", "true").option("encoding", encoding)
        .text(path).as[String]
        .flatMap(_.linesIterator.drop(linesToSkip))
      val r = spark.read
        .option("delimiter", delimiter).option("quote", quote).option("escape", "\"")
        .option("header", header.toString)
      if (mappings.nonEmpty && !header) r.schema(schema).csv(lines) else r.csv(lines)
    } else if (header)
      // As with JSON and XML, a declared read (mappings given) runs no
      // inference job: it names its columns from the probe's header
      // line. A mapping-less exploratory read keeps Spark's inference.
      probed.flatMap(_.header).filter(_ => mappings.nonEmpty).flatMap(headerSchema(spark, _, options))
        .fold(base.csv(path))(base.schema(_).csv(path))
    else {
      // Positional columns named from the mapping order.
      if (mappings.nonEmpty) base.schema(schema).csv(path) else base.csv(path)
    }
  }

  /** Local property set on the scan-mode probe's Spark job. Progress
    * counters (`graft.job.JobMetrics`) leave its reads out, so live
    * progress does not count the probe's pass as loaded rows. */
  val ProbeJobProperty = "graft.sources.scanProbe"

  /** What one probe task saw of one file block: the block's first line
    * when it starts the file, and which line ends (CRLF, LF) it holds. */
  private final case class ProbedBlock(file: String, firstLine: Option[String],
                                       crlf: Boolean, lf: Boolean)

  /** The scan-mode probe's verdict for a listing that line mode can
    * parse: the one header text its files start with, when `header`. */
  private final case class LineMode(header: Option[String])

  /** Some when no CSV record under `path` can span a line, so the
    * line-mode parse gives the multiLine parse's rows (rule: `csv`).
    * The pass is one stage with no exchange; a task stops at its first
    * bad line. */
  private def singleLineRecords(spark: SparkSession, path: String, delimiter: String,
                                encoding: String, quote: String, header: Boolean): Option[LineMode] = {
    val utf8 = Try(Charset.forName(encoding)).toOption
      .exists(c => c == StandardCharsets.UTF_8 || c == StandardCharsets.US_ASCII)
    if (!utf8 || quote != "\"" || delimiter.length != 1 || delimiter(0) >= 0x80 ||
        "\"\r\n".contains(delimiter(0))) return None
    // raw lines split on \n alone, so a line keeps any \r it holds
    val text = spark.read.option("lineSep", "\n").text(path)
    val listing = text.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location.listFiles(Nil, Nil)
    }.getOrElse(return None)
    val conf = spark.sparkContext.hadoopConfiguration
    val codecs = new CompressionCodecFactory(conf)
    val splitBytes = FilePartition.maxSplitBytes(spark, listing)
    if (!listing.flatMap(_.files).exists(f => f.getLen > splitBytes &&
        Option(codecs.getCodec(f.getPath)).forall(_.isInstanceOf[SplittableCompressionCodec])))
      return None
    val delim = delimiter(0).toByte
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(ProbeJobProperty)
    sc.setLocalProperty(ProbeJobProperty, "true")
    val tasks = try text.select(col("value"), input_file_name(), input_file_block_start())
        .queryExecution.toRdd.mapPartitions(rows => Iterator.single(probeTask(rows, delim)))
        .collect()
      finally sc.setLocalProperty(ProbeJobProperty, prev)
    if (tasks.contains(None)) return None
    val blocks = tasks.toSeq.flatten.flatten
    // univocity's multiLine parse takes a file's line end from its first
    // line and keeps any other \r as data (a lone \r ending a CRLF file
    // too), where Hadoop's line reader drops it: a file's lines must all
    // end alike, and a CRLF file must end in \n
    val crlfFiles = blocks.groupBy(_.file).collect {
      case (f, bs) if bs.exists(_.crlf) => (f, bs.exists(_.lf))
    }
    val headers = if (header) blocks.flatMap(_.firstLine).distinct else Nil
    // with a header, multiLine names columns from the first file in the
    // listing and line mode from the largest: they agree when all agree
    if (crlfFiles.forall { case (f, mixed) => !mixed && endsWithNewline(f, conf, codecs) } &&
        headers.size <= 1) Some(LineMode(headers.headOption))
    else None
  }

  /** The string schema Spark's line-mode CSV read infers from the
    * header `line` under the read's `options`: the line is tokenized by
    * the same parser settings and named by Spark's own header rules
    * (blank names, duplicates, case sensitivity). Spark takes the first
    * line that is not blank (no comment character is set); the probe
    * picks line mode only when no line is blank, whitespace only or
    * starts with a BOM, so a file's first line is that line. None when the line
    * holds no record. */
  private def headerSchema(spark: SparkSession, line: String,
                           options: Map[String, String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    val parsed = new CSVOptions(options, conf.csvColumnPruning, conf.sessionLocalTimeZone)
    Option(new CsvParser(parsed.asParserSettings).parseLine(line)).map(tokens =>
      StructType(CSVUtils.makeSafeHeader(tokens, conf.caseSensitiveAnalysis, parsed).toSeq
        .map(StructField(_, StringType, nullable = true))))
  }

  /** One probe task over (line, file, block start) rows: None at its
    * first bad line, else one ProbedBlock per file block it read. */
  private def probeTask(rows: Iterator[InternalRow], delim: Byte): Option[Seq[ProbedBlock]] = {
    val blocks = Seq.newBuilder[ProbedBlock]
    var file: UTF8String = null
    var start = -1L
    var firstLine: Option[String] = None
    var crlf, lf = false
    def close(): Unit = if (file != null) blocks += ProbedBlock(file.toString, firstLine, crlf, lf)
    while (rows.hasNext) {
      val r = rows.next()
      val line = r.getUTF8String(0)
      if (!singleLine(line, delim)) return None
      if (r.getLong(2) != start || r.getUTF8String(1) != file) {
        close()
        file = r.getUTF8String(1).clone()
        start = r.getLong(2)
        firstLine = if (start == 0) Some(line.toString.stripSuffix("\r")) else None
        crlf = false; lf = false
      }
      if (line.numBytes > 0 && line.getByte(line.numBytes - 1) == '\r') crlf = true else lf = true
    }
    close()
    Some(blocks.result())
  }

  /** The strict single-line grammar over one raw line (UTF-8 bytes, its
    * `\n` removed, one final `\r` allowed). A line is bad when it is
    * blank or whitespace only (line mode drops it, multiLine does not),
    * starts with a BOM, holds any other `\r` (Hadoop's line reader splits
    * there, univocity does not), or has a field that contains a `"` and
    * is not one `"…"` with `""` escapes followed by the delimiter or the
    * line's end. A good line holds one complete record in both modes. */
  private def singleLine(line: UTF8String, delim: Byte): Boolean = {
    val n = if (line.numBytes > 0 && line.getByte(line.numBytes - 1) == '\r') line.numBytes - 1
            else line.numBytes
    def at(i: Int): Byte = line.getByte(i)
    // index after the closing quote of a field opened before i, or -1
    @tailrec def quotedEnd(i: Int): Int =
      if (i >= n) -1
      else if (at(i) != '"') quotedEnd(i + 1)
      else if (i + 1 < n && at(i + 1) == '"') quotedEnd(i + 2)
      else i + 1
    // index of the delimiter (or n) ending an unquoted field, or -1
    @tailrec def unquotedEnd(i: Int): Int =
      if (i >= n || at(i) == delim) i else if (at(i) == '"') -1 else unquotedEnd(i + 1)
    @tailrec def fields(i: Int): Boolean = {
      val end = if (i < n && at(i) == '"') quotedEnd(i + 1) else unquotedEnd(i)
      if (end == n) true
      else if (end < 0 || at(end) != delim) false
      else fields(end + 1)
    }
    // no \r before n, and some byte above ' ' (String.trim's whitespace)
    @tailrec def plain(i: Int, blank: Boolean): Boolean =
      if (i >= n) !blank
      else at(i) != '\r' && plain(i + 1, blank && (at(i) & 0xff) <= ' ')
    val bom = n >= 3 && at(0) == 0xEF.toByte && at(1) == 0xBB.toByte && at(2) == 0xBF.toByte
    !bom && plain(0, blank = true) && fields(0)
  }

  /** A CRLF file must end in its line end: univocity keeps the \r of an
    * unterminated last line. Compressed bytes do not tell, so no. */
  private def endsWithNewline(file: String, conf: org.apache.hadoop.conf.Configuration,
                              codecs: CompressionCodecFactory): Boolean = {
    val p = new Path(new java.net.URI(file))
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    codecs.getCodec(p) == null && len > 0 && {
      val in = fs.open(p)
      try { in.seek(len - 1); in.read() == '\n' } finally in.close()
    }
  }

  /** JSON scan. With mappings declared, the schema is DECLARED
    * (all-string fields, casts in the mapping stage) — schema
    * inference is a full extra pass over the data, unaffordable at
    * 100 TB; inference only happens for mapping-less exploratory
    * reads. */
  def json(spark: SparkSession, path: String, mappings: Seq[FieldMapping]): DataFrame =
    if (mappings.nonEmpty)
      spark.read.schema(StructType(
        mappings.map(m => StructField(m.sourceFieldName, StringType, nullable = true)))).json(path)
    else spark.read.json(path)

  /**
   * Fixed-width file scan (reference S8, declared-unimplemented:
   * etlModel.java:96-97,182-190), via the DataSource V2 connector
   * (FixedWidthDataSource): column pruning happens at the source —
   * only the byte slices the plan needs are decoded. Field layout
   * comes from (fileColumnPosition, fileColumnWidth) on the mappings,
   * 1-based start offsets. A column whose start lies past the end of a
   * short line is NULL (feeding ErrorPolicy), not empty string — the
   * one deliberate difference from a substring-over-text formulation.
   */
  def fixedWidth(spark: SparkSession, path: String, mappings: Seq[FieldMapping],
                 encoding: String = "UTF-8"): DataFrame = {
    val fields = mappings.map { m =>
      require(!m.sourceFieldName.exists(c => c == ':' || c == ','),
        s"fixed-width field name '${m.sourceFieldName}' may not contain ':' or ','")
      val start = m.fileColumnPosition.getOrElse(
        throw new IllegalArgumentException(s"fixed-width mapping ${m.sourceFieldName} missing fileColumnPosition"))
      val width = m.fileColumnWidth.getOrElse(
        throw new IllegalArgumentException(s"fixed-width mapping ${m.sourceFieldName} missing fileColumnWidth"))
      s"${m.sourceFieldName}:$start:$width"
    }
    spark.read.format(classOf[FixedWidthDataSource].getName)
      .option("path", path)
      .option("fields", fields.mkString(","))
      .option("encoding", encoding)
      .load()
  }

  /**
   * JDBC scan (reference S1-S4). Partitioned read replaces the docx
   * §4 paging reader: `partitionColumn`+`numPartitions` split the scan
   * across executors — at 100 TB this is the difference between one
   * cursor and a thousand. `fetchsize` preserves the reference's
   * streaming-cursor knob (ETLCoreJdbcReader.java:77-83).
   * Credentials come via env-var indirection, never config literals.
   */
  /** Pin Derby's embedded home (derby.log, lock bookkeeping) outside
    * the working directory — shared by every embedded-Derby path
    * (gate query, specs) so log/lock state never splits across homes.
    * Idempotent; no-op when a home is already set. */
  def ensureDerbyHome(dir: String = "/tmp/graft_derby_home"): Unit =
    if (System.getProperty("derby.system.home") == null) {
      new java.io.File(dir).mkdirs()
      System.setProperty("derby.system.home", dir)
    }

  def jdbc(spark: SparkSession, cfg: SourceConfig): DataFrame = {
    val c = cfg.connectionDetails
    val url = c.jdbcUrl.getOrElse(throw new IllegalArgumentException("JDBC source requires jdbcUrl"))
    var r = spark.read.format("jdbc").option("url", url)
    c.query match {
      case Some(q) => r = r.option("query", q) // raw passthrough (ETLCoreJdbcReader.java:133-135)
      case None =>
        val t = c.tableName.getOrElse(throw new IllegalArgumentException("JDBC source requires tableName or query"))
        r = r.option("dbtable", sanitizeIdent(t))
    }
    c.username.foreach(u => r = r.option("user", u))
    resolvePassword(c).foreach(p => r = r.option("password", p))
    r = r.option("fetchsize", c.fetchSize.getOrElse(1000).toString)
    // Spark's JDBCOptions requires the full stride spec together:
    // partitionColumn + numPartitions + lowerBound + upperBound.
    // Anything less falls back to a single-partition scan (with a
    // warning) instead of failing at load().
    (c.partitionColumn, c.numPartitions, c.lowerBound, c.upperBound) match {
      case (Some(pc), Some(n), Some(lo), Some(hi)) =>
        r = r.option("partitionColumn", pc).option("numPartitions", n.toString)
          .option("lowerBound", lo.toString).option("upperBound", hi.toString)
      case (Some(pc), _, _, _) =>
        System.err.println(s"[graft] JDBC partitionColumn=$pc ignored: parallel scan needs " +
          "numPartitions + lowerBound + upperBound too; reading single-partition")
      case _ => ()
    }
    r.load()
  }

  /**
   * Kafka source option map (reference declares KAFKA as a source
   * type, etlModel.java:189, with kafka deps in etlcorepom.xml, but
   * never implements a data-plane reader; its Kafka use is the
   * control-plane trigger, covered by graft.job.JobQueue). No kafka
   * connector jar ships in this environment, so the honest surface is
   * the option contract: `spark.readStream.format("kafka")
   * .options(kafkaOptions(cfg))` is the wiring a deployment with
   * spark-sql-kafka on the classpath would use.
   */
  def kafkaOptions(cfg: SourceConfig): Map[String, String] = {
    val c = cfg.connectionDetails
    val brokers = c.bootstrapServers.getOrElse(
      throw new IllegalArgumentException("KAFKA source requires bootstrapServers"))
    val topic = c.topic.getOrElse(
      throw new IllegalArgumentException("KAFKA source requires topic"))
    Map(
      "kafka.bootstrap.servers" -> brokers,
      "subscribe" -> topic,
      "startingOffsets" -> c.startingOffsets.getOrElse("earliest"),
      // bound per-trigger read pressure; maps the reference's
      // chunked-consumption knob onto the structured source
      "maxOffsetsPerTrigger" -> c.fetchSize.getOrElse(10000).toString,
      "failOnDataLoss" -> "false"
    )
  }

  /**
   * MongoDB source option map (reference declares MONGODB,
   * etlModel.java:198-204, CoreLibInterfaces.java:436, with no
   * data-plane implementation). The mongo-spark connector jar is not
   * on this classpath; the contract is the option surface a deployment
   * would hand to `spark.read.format("mongodb").options(...)`.
   * Credentials ride the connection.uri via env indirection like JDBC.
   */
  def mongoOptions(cfg: SourceConfig): Map[String, String] = {
    val c = cfg.connectionDetails
    val uri = c.jdbcUrl.getOrElse(
      throw new IllegalArgumentException("MONGODB source requires a connection uri (in jdbcUrl)"))
    val coll = c.tableName.getOrElse(
      throw new IllegalArgumentException("MONGODB source requires a collection (in tableName)"))
    // uri path carries the database (mongodb://host/db[?opts]) — parse
    // the PATH component so a missing db or query params can't
    // masquerade as a database name
    val db = Option(java.net.URI.create(uri).getPath)
      .map(_.stripPrefix("/")).filter(_.nonEmpty).getOrElse(
        throw new IllegalArgumentException("MONGODB uri must name a database: mongodb://host/db"))
    val base = Map(
      "connection.uri" -> uri,
      "database" -> db,
      "collection" -> coll)
    c.filter match {
      case Some(p) => base + ("aggregation.pipeline" -> s"""[{"$$match": ${predicateToMongoMatch(p)}}]""")
      case None    => base
    }
  }

  /** Minimal predicate -> $match translation for equality filters
    * ("col = 'v'"); anything richer passes through Spark's own V2
    * pushdown once a real connector is on the classpath. The value is
    * JSON-escaped — quotes/backslashes must not break the pipeline
    * document or inject operators. */
  private def predicateToMongoMatch(p: String): String = {
    val eq = """\s*([A-Za-z0-9_.]+)\s*=\s*'([^']*)'\s*""".r
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    p match {
      case eq(k, v) => s"""{"$k": "${esc(v)}"}"""
      case _        => throw new IllegalArgumentException(
        s"only simple equality filters translate to $$match (got: $p)")
    }
  }

  /** Identifier sanitation as in the reference (`[^a-zA-Z0-9_.]`,
    * ItemWriterFactory.java:135, TruncateTasklet.java:89). Shared by
    * sources, sinks, and the TRUNCATE step — one copy of a
    * security-relevant regex. */
  def sanitizeIdent(name: String): String = name.replaceAll("[^a-zA-Z0-9_.]", "")

  /** Env-var password indirection, FAIL-FAST: a configured-but-unset
    * variable is a deployment error — proceeding without a password
    * would surface as an opaque auth failure (or quietly use a default
    * credential). No passwordEnv at all = unauthenticated by intent. */
  def resolvePassword(c: graft.model.ConnectionDetails): Option[String] =
    c.passwordEnv.map { name =>
      sys.env.getOrElse(name, throw new IllegalArgumentException(
        s"passwordEnv names environment variable '$name', which is not set"))
    }

  private def requirePath(cfg: SourceConfig): String =
    cfg.connectionDetails.pathOrFile.getOrElse(
      throw new IllegalArgumentException(s"${cfg.`type`} source requires a path"))
}
