package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: substring filter for a fast single-query dev loop
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, q) => (s, o, Some(q))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [queryNameSubstring]")
        sys.exit(2)
    }
    val spark = GraftSession.local(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.forall(kv._1.contains)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a reused outDir must not present the PREVIOUS run's output
        // for a now-broken query as green — remove any stale result
        // (an analysis-time failure happens before overwrite deletes)
        val stale = new java.io.File(s"$outDir/$name")
        if (stale.exists()) CacheDirs.deleteRecursively(stale)
      }
      spark.catalog.clearCache() // queries are independent
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(kv._1.contains))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
