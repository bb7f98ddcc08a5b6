package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: Spark implementation + optional DuckDB oracle
  * SQL over the same parquet tables. Oracle is omitted only for ops
  * whose semantics are not ANSI-SQL-expressible (LSH, streaming). */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object Tables {
  val all = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir) else spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has drifted across fixture generations — nanos
    * int64 (no native Spark type; the legacy conf that
    * `GraftSession.local` sets surfaces it as LongType), now plain timestamp[us] (TIMESTAMP_NTZ). Branch on
    * the type the footer actually carries instead of assuming a
    * vintage, so a regeneration can't silently break every events
    * read again. All sessions pin spark.sql.session.timeZone=UTC
    * (GraftSession.local), so the NTZ->instant cast is a pure
    * reinterpretation. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(spark.read.parquet(s"$dir/events.parquet"))

  /** Land `ts` as a UTC TimestampType column whatever physical type
    * the source read produced. Shared by the batch reader above and
    * the streaming reader (EventStreams.readEvents). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      // legacy nanos feed: `div` = integer division — ns-epoch values
      // exceed double's 53-bit mantissa, so `/` (true division) would
      // corrupt the low digits.
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other — extend Tables.normalizeEventTs")
    }
  }

  /** Register tables as temp views so queries can use spark.sql with
    * the same text shape as the DuckDB oracle. Callers name just the
    * tables they reference — registering all 10 would read 10 parquet
    * footers per spark.sql query at plan-build time. */
  def views(spark: SparkSession, dir: String, names: String*): Unit =
    (if (names.nonEmpty) names else all)
      .foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Content fingerprint of a table file/dir: cache keys derived from
    * it go stale the moment the data is regenerated in place — keying
    * by path alone would silently serve artifacts of a previous
    * corpus. SHA-256 over SORTED, delimiter-separated
    * (full-path, length, mtime) records: listing order can't change
    * the key, adjacent fields can't alias each other, and collisions
    * are cryptographically negligible (a CRC of undelimited basenames
    * would give none of the three). */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer[String](path)
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        entries += s"${f.getPath.toUri.getPath}|${f.getLen}|${f.getModificationTime}"
      }
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}

object Queries {
  def registry: Seq[Q] =
    EtlQueries.all ++ AnalyticsQueries.all ++ TextQueries.all ++
      SimilarityQueries.all ++ TypedQueries.all ++ PipelineQueries.all ++
      RecallQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
