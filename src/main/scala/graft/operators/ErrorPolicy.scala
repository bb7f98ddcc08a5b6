package graft.operators

import graft.model.{DestinationConfig, ErrorHandling, FieldMapping}
import graft.sinks.Writers
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

/**
 * Data-quality / error-handling operators — first-class in the
 * reference (SURVEY.md §2.6).
 *
 * A row is INVALID when a non-nullable destination column is null
 * after mapping — which covers both "null arrived from the source"
 * and "cast failed and produced null" (the reference treats cast
 * exceptions and null-violations through the same error path,
 * ETLCoreMappingProcessor.java:66-77,100-135).
 *
 * Strategy semantics (CoreLibInterfaces.java:91-96):
 *  - FAIL_JOB (default): any invalid row aborts the job;
 *  - LOG_ONLY: invalid rows are dropped and counted;
 *  - ROUTE_TO_FILE: invalid rows are written to `errorFilePath`;
 *  - in all non-FAIL modes, invalidCount > maxErrorsAllowed (when > 0)
 *    still fails the job (ETLCoreMappingProcessor.java:127-133).
 *
 * Spark-first: the split is two lazy DataFrames off one predicate;
 * counting happens as an aggregation, not a per-row mutable counter —
 * order-insensitive but count-equivalent (SURVEY.md §7.4.3). A LOAD
 * into a file destination (`load`) goes further: it writes both sides
 * in one pass, so the source is parsed and cast once, as the
 * reference's scan -> cast -> filter -> write loop does.
 */
object ErrorPolicy {

  final case class Split(good: DataFrame, bad: DataFrame, requiredCols: Seq[String])

  final class JobFailedException(msg: String) extends RuntimeException(msg)

  /** Predicate: this row violates some non-nullable destination column. */
  def violationPredicate(mappings: Seq[FieldMapping]): Option[Column] = {
    val required = mappings.filterNot(_.isDestNullable).map(m => col(m.destinationFieldName).isNull)
    required.reduceOption(_ || _)
  }

  /** Split a MAPPED DataFrame into (good, bad) on null-constraint
    * violations. No action is triggered here. */
  def split(mapped: DataFrame, mappings: Seq[FieldMapping]): Split =
    violationPredicate(mappings) match {
      case Some(isBad) =>
        Split(mapped.filter(!coalesce(isBad, lit(false))), mapped.filter(coalesce(isBad, lit(false))),
          mappings.filterNot(_.isDestNullable).map(_.destinationFieldName))
      case None => Split(mapped, mapped.limit(0), Nil)
    }

  /**
   * Enforce the configured strategy. Returns the good DataFrame and
   * the number of rejected rows. FAIL_JOB probes the bad side with
   * `isEmpty`, LOG_ONLY counts it and ROUTE_TO_FILE writes it as the
   * error CSV: each is one action that parses the source, before and
   * apart from the caller's own write of the (lazy) good side.
   */
  def enforce(mapped: DataFrame, mappings: Seq[FieldMapping], policy: ErrorHandling): (DataFrame, Long) = {
    val s = split(mapped, mappings)
    if (s.requiredCols.isEmpty) return (s.good, 0L)
    policy.strategy.toUpperCase match {
      case "FAIL_JOB" =>
        // isEmpty only scans until the first violation — cheap fail-fast.
        if (!s.bad.isEmpty) throw failJob(mappings)
        (s.good, 0L)
      case "LOG_ONLY" =>
        val n = s.bad.count()
        checkMax(n, policy)
        (s.good, n)
      case "ROUTE_TO_FILE" =>
        val path = policy.errorFilePath.getOrElse(
          throw new IllegalArgumentException("ROUTE_TO_FILE requires errorFilePath"))
        // Single pass over the bad side: the row count rides the routing
        // write as an observed metric (no persist, no second scan).
        val obs = Observation(s"graft_routed_${obsSeq.incrementAndGet()}")
        Writers.errorFile(s.bad.observe(obs, count(lit(1)).as("n")), path)
        val n = observedLong(obs, "n")
        checkMax(n, policy)
        (s.good, n)
      case other =>
        throw new IllegalArgumentException(s"unknown error strategy: $other")
    }
  }

  /** Enforcement whose violation count is collected in the SAME pass as
    * the caller's own downstream action (write/collect), via a
    * CollectMetrics (`observe`) node below the good-row filter — no
    * separate counting scan over the source.
    *
    * `rejected()` blocks until the caller has run its first action on
    * `good`, then returns the count. Single-pass only applies to
    * UNCAPPED LOG_ONLY: a configured maxErrorsAllowed must be able to
    * fail the job BEFORE the destination changes, and FAIL_JOB and
    * ROUTE_TO_FILE need the bad side itself, so here they fall back to
    * `enforce` and its own action on the bad side. A LOAD into a file
    * destination can stage its write and runs them in one pass there
    * (`load`); JDBC and REST destinations have nowhere to stage and
    * keep this fallback, as do LOAD_SNAPSHOT and MERGE_STRATEGY. */
  def enforceObserved(mapped: DataFrame, mappings: Seq[FieldMapping],
                      policy: ErrorHandling): Enforced =
    violationPredicate(mappings) match {
      case Some(isBad) if policy.strategy.equalsIgnoreCase("LOG_ONLY")
          && policy.maxErrorsAllowed <= 0 =>
        val bad = coalesce(isBad, lit(false))
        val obs = Observation(s"graft_bad_${obsSeq.incrementAndGet()}")
        val observed = mapped.observe(obs,
          coalesce(sum(when(bad, 1L).otherwise(0L)), lit(0L)).as("bad"))
        Enforced(observed.filter(!bad), () => observedLong(obs, "bad"))
      case Some(_) =>
        val (good, n) = enforce(mapped, mappings, policy)
        Enforced(good, () => n)
      case None => Enforced(mapped, () => 0L)
    }

  /** Flag column of a staged LOAD: true on the rows that break a
    * required column. */
  private val BadFlag = "_graft_bad"

  /**
   * LOAD's write of `mapped` into `dest` with `policy` enforced; returns
   * (written, rejected).
   *
   * Into a file destination (PARQUET/ORC/CSV/JSON/XML), FAIL_JOB,
   * capped LOG_ONLY and ROUTE_TO_FILE take one staged commit
   * (`stagedLoad`), so the source is parsed and cast once. Everything
   * else writes `enforceObserved`'s good side directly: uncapped
   * LOG_ONLY (single pass already), mappings without a required
   * column, JDBC and REST destinations (nowhere to stage),
   * `ignore`/`errorifexists` onto an existing destination, where the
   * write is skipped or refused, and a partitioned overwrite under
   * the session's dynamic partition-overwrite mode.
   */
  def load(mapped: DataFrame, mappings: Seq[FieldMapping], policy: ErrorHandling,
           dest: DestinationConfig): (Long, Long) = {
    val uncappedLog = policy.strategy.equalsIgnoreCase("LOG_ONLY") && policy.maxErrorsAllowed <= 0
    // a session in dynamic partition-overwrite mode replaces only the
    // written partitions, which the whole-directory swap would not
    val dynamicOverwrite = dest.connectionDetails.partitionKeys.nonEmpty &&
      mapped.sparkSession.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        .equalsIgnoreCase("dynamic")
    val target = for {
      path <- dest.connectionDetails.pathOrFile if Writers.fileFormat(dest).isDefined
      p = new Path(path)
      fs = p.getFileSystem(mapped.sparkSession.sparkContext.hadoopConfiguration)
      if (dest.saveMode.toLowerCase match {
        case "overwrite" => !dynamicOverwrite
        case "append" => true
        case "ignore" | "error" | "errorifexists" | "default" => !fs.exists(p)
        case _ => false
      })
    } yield (fs, p)
    (violationPredicate(mappings), target) match {
      case (Some(isBad), Some((fs, p))) if !uncappedLog =>
        stagedLoad(mapped, isBad, mappings, policy, dest, fs, p)
      case _ =>
        val enforced = enforceObserved(mapped, mappings, policy)
        val obs = Observation(s"graft_load_${obsSeq.incrementAndGet()}")
        Writers.write(enforced.good.observe(obs, count(lit(1)).as("rows")), dest)
        (observedLong(obs, "rows"), enforced.rejected())
    }
  }

  /**
   * One pass of a LOAD into the file destination at `destPath`:
   *  - write `mapped` once, flagged with `_graft_bad` and partitioned
   *    by it ahead of the destination's own keys, into a hidden
   *    `_<dest>_load_<uuid8>` sibling; the good and bad counts ride
   *    that write as one observation;
   *  - FAIL_JOB and maxErrorsAllowed fail the job here, before the
   *    destination changes (a failing FAIL_JOB load has written, and
   *    now discards, its whole staged output);
   *  - ROUTE_TO_FILE writes the error CSV from the small
   *    `_graft_bad=true` side, read back with the mapped schema (no
   *    inference job);
   *  - `_graft_bad=false` (with its `_SUCCESS`) replaces the
   *    destination by `Maintenance.swapIn`, or joins it file by file
   *    on append.
   * The staging directory is gone afterwards, on success and failure.
   * An overwrite keeps the old destination until the swap, so the load
   * needs free space for the old and the new output together (a direct
   * overwrite deletes the old files before it writes).
   */
  private def stagedLoad(mapped: DataFrame, isBad: Column, mappings: Seq[FieldMapping],
                         policy: ErrorHandling, dest: DestinationConfig,
                         fs: FileSystem, destPath: Path): (Long, Long) = {
    val strategy = policy.strategy.toUpperCase
    val errorFile = strategy match {
      case "ROUTE_TO_FILE" => Some(policy.errorFilePath.getOrElse(
        throw new IllegalArgumentException("ROUTE_TO_FILE requires errorFilePath")))
      case "FAIL_JOB" | "LOG_ONLY" => None
      case other => throw new IllegalArgumentException(s"unknown error strategy: $other")
    }
    val c = dest.connectionDetails
    def at(p: Path, keys: List[String]) = dest.copy(saveMode = "overwrite",
      connectionDetails = c.copy(path = Some(p.toString), filePath = None, partitionKeys = keys))
    Maintenance.withStaging(fs, destPath, "_load_") { staged =>
      val obs = Observation(s"graft_load_${obsSeq.incrementAndGet()}")
      Writers.write(mapped.withColumn(BadFlag, coalesce(isBad, lit(false)))
        .observe(obs, count(lit(1)).as("rows"), coalesce(sum(when(col(BadFlag), 1L)), lit(0L)).as("bad")),
        at(staged, BadFlag :: c.partitionKeys))
      val bad = observedLong(obs, "bad")
      val written = observedLong(obs, "rows") - bad
      if (strategy == "FAIL_JOB" && bad > 0) throw failJob(mappings)
      errorFile.foreach { f =>
        Writers.errorFile(if (bad == 0) mapped.limit(0)
          else Writers.readFiles(mapped.sparkSession, dest, s"$staged/$BadFlag=true", mapped.schema), f)
      }
      checkMax(bad, policy)
      val good = new Path(staged, s"$BadFlag=false")
      // no good row: Spark's own empty output (one schema-only file
      // when the layout is flat)
      if (written == 0) Writers.write(mapped.limit(0), at(good, c.partitionKeys))
      else fs.rename(new Path(staged, "_SUCCESS"), new Path(good, "_SUCCESS"))
      if (c.partitionKeys.isEmpty) flatFileNames(fs, good)
      Maintenance.moveIn(fs, good, destPath, append = dest.saveMode.equalsIgnoreCase("append"),
        m => new JobFailedException(s"LOAD: $m"))
      (written, bad)
    }
  }

  /** Spark names a part file `part-<task>-<uuid>.c<n><ext>` inside a
    * hive partition directory and `part-<task>-<uuid>-c<n><ext>` in a
    * flat one: rename the staged files as a flat write names them. */
  private def flatFileNames(fs: FileSystem, dir: Path): Unit = {
    val partitioned = "^(part-\\d+-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12})\\.(c\\d+.*)$".r
    fs.listStatus(dir).map(_.getPath).foreach { p =>
      p.getName match {
        case partitioned(stem, rest) => fs.rename(p, new Path(dir, s"$stem-$rest"))
        case _ =>
      }
    }
  }

  private def failJob(mappings: Seq[FieldMapping]) = new JobFailedException(
    s"null constraint violated on non-nullable column(s) " +
      s"${mappings.filterNot(_.isDestNullable).map(_.destinationFieldName).mkString(",")} (strategy=FAIL_JOB)")

  final case class Enforced(good: DataFrame, rejected: () => Long)

  private val obsSeq = new AtomicLong()

  private def observedLong(obs: Observation, key: String): Long =
    obs.get.get(key).map(_.asInstanceOf[Number].longValue).getOrElse(0L)

  private def checkMax(n: Long, policy: ErrorHandling): Unit =
    if (policy.maxErrorsAllowed > 0 && n > policy.maxErrorsAllowed)
      throw new JobFailedException(
        s"recordsFailed=$n exceeds maxErrorsAllowed=${policy.maxErrorsAllowed}")
}
