package graft.sinks

import graft.model.DestinationConfig
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Sink builders: DataFrame -> configured destination (W1-W4,
 * SURVEY.md §2.2).
 *
 * The reference's hand-rolled batch INSERT loop and CSV writer
 * (ItemWriterFactory.java:109-183, ETLCoreCsvFileWriter.java:46-185)
 * become DataFrameWriter declarations; one JDBC transaction per
 * partition replaces one per chunk, and the `batchSize` knob maps to
 * the JDBC writer's `batchsize` option.
 */
object Writers {

  def write(df: DataFrame, dest: DestinationConfig): Unit = {
    val c = dest.connectionDetails
    val mode = dest.saveMode
    // File-sink layout knobs for scale:
    //  - `partitionKeys`: hive key=value directories so downstream
    //    scans partition-prune (at 100 TB, a date/source key here is
    //    the difference between reading a day and a decade);
    //  - `sortKeys`: sort within each write task, so parquet rowgroup
    //    min/max stats actually skip (and similar values compress);
    //  - `maxRecordsPerFile`: bound file size so one skewed partition
    //    cannot produce a single unsplittable multi-GB file.
    def partitioned(w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row]) = {
      val withPart = if (c.partitionKeys.nonEmpty) w.partitionBy(c.partitionKeys: _*) else w
      val withMax = c.maxRecordsPerFile.fold(withPart)(m => withPart.option("maxRecordsPerFile", m))
      // codec knob, honored by every file format's writer option
      c.compression.fold(withMax)(codec => withMax.option("compression", codec))
    }
    // With hive partitioning, the file writer re-sorts each task by
    // the partition columns (to open one file at a time) — a child
    // sort by sortKeys alone would be eliminated or destabilized, so
    // prepend the partition keys to keep the within-file order.
    val effectiveSort =
      if (c.sortKeys.nonEmpty) c.partitionKeys ++ c.sortKeys else Nil
    val laidOut =
      if (effectiveSort.nonEmpty)
        df.sortWithinPartitions(effectiveSort.map(org.apache.spark.sql.functions.col): _*)
      else df
    val file = fileFormat(dest)
    dest.`type`.toUpperCase match {
      case _ if file.isDefined =>
        val (format, options) = file.get
        partitioned(laidOut.write.mode(mode)).format(format).options(options).save(requirePath(dest))
      case "JDBC" | "ORACLE" | "MSSQL" | "SQLSERVER" =>
        val url = c.jdbcUrl.getOrElse(throw new IllegalArgumentException("JDBC sink requires jdbcUrl"))
        val table = c.tableName.map(graft.sources.Readers.sanitizeIdent)
          .getOrElse(throw new IllegalArgumentException("JDBC sink requires tableName"))
        val props = new java.util.Properties()
        c.username.foreach(props.setProperty("user", _))
        graft.sources.Readers.resolvePassword(c).foreach(props.setProperty("password", _))
        props.setProperty("batchsize", dest.batchSize.toString) // W1 chunk knob
        // DDL override for first creation — e.g. VARCHAR instead of a
        // dialect's default LOB mapping (Derby CLOB is not comparable
        // server-side, which would break read-back predicate pushdown)
        c.createTableColumnTypes.foreach(props.setProperty("createTableColumnTypes", _))
        // overwrite must TRUNCATE in place, not drop-and-recreate:
        // Spark's default overwrite drops the table and re-infers DDL,
        // destroying indexes/constraints/grants (and making the
        // TRUNCATE_DESTINATION step pointless)
        props.setProperty("truncate", "true")
        // saveMode passes through unchanged — Spark's JDBC writer
        // supports all SaveModes; silently coercing "ignore"/
        // "errorifexists" to append could double-load a table.
        df.write.mode(mode).jdbc(url, table, props)
      case "REST_API" | "REST" =>
        rest(df, dest)
      case other =>
        throw new IllegalArgumentException(s"unsupported destination type: $other")
    }
  }

  /** Format name and writer options of a file destination; None for
    * JDBC and REST. */
  def fileFormat(dest: DestinationConfig): Option[(String, Map[String, String])] = {
    val c = dest.connectionDetails
    dest.`type`.toUpperCase match {
      case "PARQUET" => Some("parquet" -> Map.empty)
      case "ORC" => Some("orc" -> Map.empty)
      case "CSV" | "FLAT_FILE" | "DELIMITED" =>
        // Reference CSV semantics (ETLCoreCsvFileWriter.java):
        //  - header from destination names (:46-118) — header option;
        //  - RFC-4180 quoting with doubled quotes (:174-185) — Spark's
        //    default quote/escape set to '"' reproduces it;
        //  - null -> empty string (:161-171) — emptyValue/nullValue "".
        Some("csv" -> Map(
          "header" -> c.includeHeader.getOrElse(true).toString,
          "delimiter" -> c.delimiter.getOrElse(","),
          "encoding" -> c.encoding.getOrElse("UTF-8"),
          "quote" -> "\"", "escape" -> "\"",
          "emptyValue" -> "", "nullValue" -> "",
          // Spark's CSV WRITER trims whitespace by default; the
          // reference preserves values verbatim (:161-171)
          "ignoreLeadingWhiteSpace" -> "false",
          "ignoreTrailingWhiteSpace" -> "false"))
      case "JSON" => Some("json" -> Map.empty)
      case "XML" => Some("xml" -> Map("rowTag" -> c.tableName.getOrElse("row")))
      case _ => None
    }
  }

  /** Reads files that `write` put at `path` for the file destination
    * `dest`, with their known `schema`: no inference job runs. Columns
    * come back in `schema`'s order, hive partition columns included.
    * CSV values may span lines, and XML keeps the spaces around values,
    * as written. */
  def readFiles(spark: SparkSession, dest: DestinationConfig, path: String,
                schema: StructType): DataFrame = {
    val (format, options) = fileFormat(dest).getOrElse(
      throw new IllegalArgumentException(s"${dest.`type`} is not a file destination"))
    val asWritten = format match {
      case "csv" => Map("multiLine" -> "true")
      case "xml" => Map("ignoreSurroundingSpaces" -> "false")
      case _ => Map.empty[String, String]
    }
    val df = spark.read.format(format).options(options ++ asWritten).schema(schema).load(path)
    df.select(schema.fieldNames.map(n => df.col(s"`${n.replace("`", "``")}`")).toSeq: _*)
  }

  /** Writes routed rows as the error CSV at `path`, with a header.
    * Nulls are written as empty strings, matching the reference CSV
    * writer (ETLCoreCsvFileWriter.java:161-164). */
  def errorFile(rows: DataFrame, path: String): Unit =
    rows.write.mode("overwrite").option("header", "true").option("emptyValue", "").csv(path)

  /** Pluggable REST posting transport: (url, jsonLinesBatch) -> unit.
    * Executor-side; a real deployment injects an HTTP client.
    * (Reference W4: REST_API sink declared but unimplemented,
    * etlModel.java:198-204.) */
  @volatile var restTransport: (String, Seq[String]) => Unit = { (url, batch) =>
    val conn = new java.net.URL(url).openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setRequestMethod("POST"); conn.setDoOutput(true)
    conn.setRequestProperty("Content-Type", "application/x-ndjson")
    val out = conn.getOutputStream
    try out.write(batch.mkString("", "\n", "\n").getBytes("UTF-8")) finally out.close()
    if (conn.getResponseCode >= 300)
      throw new java.io.IOException(s"REST sink POST failed: HTTP ${conn.getResponseCode}")
  }

  /**
   * REST sink: rows as JSON lines, POSTed per `batchSize` from inside
   * each partition — executor-parallel, one connection per batch, no
   * driver materialization. At-least-once on task retry, like every
   * non-transactional sink here and in the reference.
   */
  def rest(df: DataFrame, dest: DestinationConfig): Unit = {
    val url = dest.connectionDetails.jdbcUrl.orElse(dest.connectionDetails.pathOrFile)
      .getOrElse(throw new IllegalArgumentException("REST sink requires a url (in path or jdbcUrl)"))
    val batchSize = dest.batchSize
    val transport = restTransport // capture for serialization
    df.toJSON.foreachPartition { (rows: Iterator[String]) =>
      rows.grouped(batchSize).foreach(batch => transport(url, batch.toSeq))
    }
  }

  /**
   * Elasticsearch sink option map (reference declares ELASTICSEARCH,
   * CoreLibInterfaces.java:436, etlModel.java:198-204 — never
   * implemented). The elasticsearch-spark connector jar is not on this
   * classpath; this is the option surface a deployment hands to
   * `df.write.format("es").options(...)`. The REST sink (`rest`)
   * covers the "push JSON docs over HTTP" shape natively meanwhile.
   */
  /**
   * PARTITION BACKFILL: overwrite ONLY the hive partitions present in
   * `df`, leaving every other partition untouched — the idempotent
   * re-run primitive of a date/priority-partitioned lake table (a
   * failed day re-runs without touching its neighbors; the same
   * batch re-applied converges to the same bytes). Implemented with
   * Spark's dynamic partitionOverwriteMode as a PER-WRITE DataSource
   * option (not a session conf flip): the session default (static)
   * would silently DROP every partition absent from the batch — the
   * classic backfill footgun this helper exists to fence off — and
   * the write-scoped option can't leak into a concurrent overwrite on
   * the same SparkSession the way a set/restore of the global conf
   * could.
   */
  def backfillPartitions(df: DataFrame, destDir: String,
                         partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty, "backfill requires at least one partition column")
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCols: _*).parquet(destDir)
  }

  def elasticsearchOptions(dest: DestinationConfig): Map[String, String] = {
    val c = dest.connectionDetails
    val nodes = c.jdbcUrl.getOrElse(
      throw new IllegalArgumentException("ELASTICSEARCH sink requires nodes (in jdbcUrl, host:port[,host:port])"))
    val index = c.tableName.getOrElse(
      throw new IllegalArgumentException("ELASTICSEARCH sink requires an index (in tableName)"))
    Map(
      "es.nodes" -> nodes,
      "es.resource" -> index,
      "es.batch.size.entries" -> dest.batchSize.toString, // W1 chunk knob, same as JDBC batchsize
      "es.write.operation" -> (if (dest.saveMode == "overwrite") "index" else "create")
    ) ++ c.username.map("es.net.http.auth.user" -> _) ++
      c.passwordEnv.flatMap(sys.env.get).map("es.net.http.auth.pass" -> _)
  }

  private def requirePath(dest: DestinationConfig): String =
    dest.connectionDetails.pathOrFile.getOrElse(
      throw new IllegalArgumentException(s"${dest.`type`} sink requires a path"))
}
