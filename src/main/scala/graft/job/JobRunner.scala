package graft.job

import graft.model._
import graft.operators.{ErrorPolicy, MappingOp}
import graft.sinks.Writers
import graft.sources.Readers
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/**
 * Driver-side job orchestration (SURVEY.md §2.7).
 *
 * The reference's control plane — Spring Batch flows, JMS/Kafka/REST
 * triggers, async submit, registry, counters, cancellation — collapses
 * to a small step interpreter on the Spark driver:
 *
 *  - O1 job assembly: ordered step list -> sequential interpreter;
 *  - O2 TRUNCATE_DESTINATION: overwrite semantics for file sinks;
 *  - O3 NOTIFY_SUCCESS/FAILURE: pluggable notifier (log by default);
 *  - O4 VALIDATE_SOURCE/VALIDATE_LOAD: schema presence / row-count check;
 *  - O10 progress: counters from Spark's own instrumentation;
 *  - O11 cancellation: job groups + cancelJobGroup replace the
 *    per-row AtomicBoolean checks (ETLCoreJdbcReader.java:216);
 *  - O12 registry: in-driver ConcurrentHashMap keyed like the
 *    reference (`jobName::taskId::uuid8`, DynamicJobService.java:146-155);
 *  - O15 conditional flow: NOTIFY_FAILURE runs only on failure.
 *
 * Intra-job parallelism is Spark's (partitions), not a thread pool —
 * the reference's single-threaded chunk loop (impl B) has no analog
 * worth keeping at 100 TB.
 */
object JobRunner {

  sealed trait JobStatus
  case object Pending extends JobStatus
  case object Running extends JobStatus
  case object Completed extends JobStatus
  case object Cancelled extends JobStatus
  final case class Failed(reason: String) extends JobStatus

  final case class JobResult(
      jobId: String,
      configKey: String,
      status: JobStatus,
      recordsWritten: Long,
      recordsFailed: Long,
      stepsRun: List[String],
      message: String
  )

  trait Notifier { def notify(result: JobResult): Unit }
  object LogNotifier extends Notifier {
    def notify(r: JobResult): Unit =
      System.err.println(s"[graft-job] ${r.configKey} -> ${r.status} written=${r.recordsWritten} failed=${r.recordsFailed} ${r.message}")
  }

  /** In-driver run registry (reference: workflowEngine-part1.java:201-203).
    * Bounded: a long-lived queue-driven driver would otherwise leak one
    * entry per run; the oldest results are evicted past `registryCap`
    * (the reference instead removes entries in its completion listener,
    * JobCompletionNotificationListener.java:36-63 — a cap keeps recent
    * statuses queryable, which the listener-removal approach loses). */
  private val registry = new ConcurrentHashMap[String, JobResult]()
  private val registryOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val registryCap = 1000
  private val seq = new AtomicLong()

  private def registryPut(key: String, r: JobResult): Unit = {
    if (registry.put(key, r) == null) {
      registryOrder.add(key)
      while (registry.size > registryCap) {
        val oldest = registryOrder.poll()
        if (oldest != null) registry.remove(oldest) else return
      }
    }
  }

  def status(configKey: String): Option[JobResult] = Option(registry.get(configKey))

  /** Registry key scheme (reference: configKey = jobName::taskId::seq,
    * workflowEngine-part1.java:201-203). */
  def newConfigKey(cfg: JobConfig): String =
    s"${cfg.jobName.getOrElse("job")}::${cfg.jobId}::${seq.incrementAndGet()}"

  /** Async submit (O8): the key is registered as Pending BEFORE the
    * pool picks the job up, so clients can poll immediately. Job
    * groups are thread-local, so the worker thread tags its own Spark
    * jobs and `cancel(key)` works from any thread. */
  def submitAsync(spark: SparkSession, cfg: JobConfig,
                  executor: java.util.concurrent.ExecutorService,
                  notifier: Notifier = LogNotifier): String = {
    // O8 duplicate-submit dedupe (the reference checks its running map
    // before launching): an identical jobId still queued or running
    // returns the existing key instead of double-running the job.
    // The check+put pair is synchronized so two concurrent submits of
    // the same jobId cannot both pass the scan.
    registry.synchronized {
      val dup = registry.values.stream()
        .filter(r => r.jobId == cfg.jobId &&
          (r.status == Pending || r.status == Running))
        .findFirst()
      if (dup.isPresent) return dup.get().configKey
      val key = newConfigKey(cfg)
      registryPut(key, JobResult(cfg.jobId, key, Pending, 0, 0, Nil, "queued"))
      executor.submit(new Runnable {
        override def run(): Unit =
          JobRunner.run(spark, cfg, notifier, presetKey = Some(key))
      })
      key
    }
  }

  // ---- live progress (O10, reference workflowEngine-part1.java:283-303:
  // progressPercent = processed / pre-counted source total) ----
  private val expectedTotals = new ConcurrentHashMap[String, Long]()
  @volatile private var progressMetrics: Option[JobMetrics] = None

  /** Opt in to progress tracking: LOAD pre-counts the source (the
    * reference's own contract — one extra count scan) and `progress`
    * reports percent from the listener's task counters. */
  def attachMetrics(m: JobMetrics): Unit = progressMetrics = Some(m)
  def detachMetrics(): Unit = progressMetrics = None

  /** Percent of the pre-counted source rows read so far for a RUNNING
    * job (capped at 100 — re-reads like VALIDATE_LOAD also count input
    * records). None when progress tracking is off or the job has no
    * counted total yet. */
  def progress(configKey: String): Option[Double] =
    for {
      m <- progressMetrics
      total <- Option(expectedTotals.get(configKey)) if total > 0L
      c <- m.counters(configKey)
    } yield math.min(100.0, c.recordsRead.get.toDouble * 100.0 / total)

  /** Cooperative cancellation: kills all Spark jobs tagged with this
    * job's group (O11). */
  def cancel(spark: SparkSession, configKey: String): Unit =
    spark.sparkContext.cancelJobGroup(configKey)

  /** Build the mapped (and error-enforced) DataFrame for a job WITHOUT
    * writing — the query-shaped view of a job, used by SparkEntry. */
  def buildDataFrame(spark: SparkSession, cfg: JobConfig,
                     plugins: Map[String, DataFrame => DataFrame] = Map.empty): DataFrame =
    mapSource(Readers.forConfig(spark, cfg.source, cfg.mappings), cfg, plugins)

  /** The job's mapping and transformation stages over its source frame. */
  private def mapSource(raw: DataFrame, cfg: JobConfig,
                        plugins: Map[String, DataFrame => DataFrame]): DataFrame = {
    val mapped = MappingOp(raw, cfg.mappings, cfg.source.connectionDetails.filter)
    val transformed = cfg.transformation.`type`.toUpperCase match {
      // Reference stage-2 hook (P8): PYTHON_SCRIPT -> pluggable DataFrame=>DataFrame.
      case "NONE" | "" => mapped
      case _ =>
        val name = cfg.transformation.name.getOrElse(cfg.transformation.`type`)
        plugins.get(name) match {
          case Some(fn) => fn(mapped)
          case None     => mapped // unknown plugin: pass through with a warning, like unknown casts
        }
    }
    transformed
  }

  /** O15's StatusDecider made FIRST-CLASS (the reference docx §7
    * shape, VERDICT r17 #4): run the PROBE job; its terminal status
    * picks the branch — Completed runs `onPass`; Failed runs `onFail`
    * ONLY when the failure is the probe's own verdict
    * (`expectedFailure` — a substring the gate's failure message must
    * carry, e.g. "VALIDATE_DRIFT"). A probe that could not RUN (a
    * typo'd column, a missing baseline path, an infra error) matches
    * nothing and NO branch executes — routing every failure to
    * `onFail` would let a config typo silently trigger a full index
    * rebuild and retire the serving era while masking the real error
    * (self-review r18). With `expectedFailure` left at None the SAFE
    * semantics are the default: a Failed probe takes NO branch at all
    * (ADVICE r18 — the old `forall` default made ANY failure route to
    * onFail, exactly the silent-rebuild-on-typo the guard exists to
    * prevent; callers who want a branch on failure must name the
    * verdict they expect). The canonical composition is index
    * maintenance under drift: probe = a VALIDATE_DRIFT job over the
    * fresh batch vs the index-era baseline; pass -> the incremental
    * append job (INGEST_ANN_DESTINATION annMode=append /
    * INGEST_BM25), fail -> the full rebuild job (annMode=rebuild) —
    * exactly the append-vs-rebuild trigger Similarity.ivfAppend
    * documents. Returns (probe result, branch result — None when no
    * branch ran). */
  def runDecided(spark: SparkSession, probe: JobConfig,
                 onPass: JobConfig, onFail: JobConfig,
                 expectedFailure: Option[String] = None,
                 notifier: Notifier = LogNotifier,
                 plugins: Map[String, DataFrame => DataFrame] = Map.empty)
      : (JobResult, Option[JobResult]) = {
    val probed = run(spark, probe, notifier, plugins)
    val branch = probed.status match {
      case Completed => Some(run(spark, onPass, notifier, plugins))
      case Failed(reason) if expectedFailure.exists(reason.contains) =>
        Some(run(spark, onFail, notifier, plugins))
      case _ => None
    }
    (probed, branch)
  }

  /**
   * Run a job end-to-end: interpret its step list (default
   * [LOAD, NOTIFY_SUCCESS]); on any failure run NOTIFY_FAILURE
   * (O15 decider semantics).
   */
  def run(spark: SparkSession, cfg: JobConfig,
          notifier: Notifier = LogNotifier,
          plugins: Map[String, DataFrame => DataFrame] = Map.empty,
          presetKey: Option[String] = None): JobResult = {
    val configKey = presetKey.getOrElse(newConfigKey(cfg))
    var stepsRun = List.empty[String]
    var written = 0L
    var failedRows = 0L
    registryPut(configKey, JobResult(cfg.jobId, configKey, Running, 0, 0, Nil, ""))
    spark.sparkContext.setJobGroup(configKey, s"graft job ${cfg.jobId}", interruptOnCancel = true)
    val steps = if (cfg.steps.nonEmpty) cfg.steps else List("LOAD", "NOTIFY_SUCCESS")
    // One source frame per job, shared by every step that reads the
    // source: the CSV scan-mode probe and header inference run once.
    lazy val source = Readers.forConfig(spark, cfg.source, cfg.mappings)
    def mappedSource(): DataFrame = mapSource(source, cfg, plugins)
    try {
      steps.foreach { step =>
        step.toUpperCase match {
          case "VALIDATE_SOURCE" =>
            val present = source.schema.fieldNames.toSet
            val missing = cfg.mappings.map(_.sourceFieldName).filterNot(present.contains)
            if (missing.nonEmpty)
              throw new ErrorPolicy.JobFailedException(s"VALIDATE_SOURCE: missing columns ${missing.mkString(",")}")
            stepsRun ::= step
          case "PROFILE_SOURCE" =>
            // data-quality survey of the mapped source columns (HLL
            // distinct — the scale-safe mode). The report is metadata
            // (one row per column): written next to a file destination
            // as <path>_profile, else logged.
            val mapped = cfg.mappings.map(_.sourceFieldName)
              .filter(source.schema.fieldNames.contains)
            val cols = if (mapped.nonEmpty) mapped else source.schema.fieldNames.toSeq
            val prof = graft.operators.Profile.profile(source, cols, exact = false)
            cfg.destination.flatMap(_.connectionDetails.pathOrFile) match {
              case Some(p) =>
                prof.coalesce(1).write.mode("overwrite")
                  .parquet(s"${p.stripSuffix("/")}_profile")
              case None =>
                prof.collect().foreach(r => System.err.println(s"[graft-job] profile $r"))
            }
            stepsRun ::= step
          case "VALIDATE_QUALITY" =>
            // declarative data-quality gate before loading: rules come
            // from transformation.parameters.qualityRules (compact DSL,
            // Quality.parseRules) and evaluate over the mapped source
            // in ONE aggregation pass; any failed rule fails the job
            // with the measured metrics in the message.
            val spec = cfg.transformation.parameters.getOrElse("qualityRules",
              throw new IllegalArgumentException(
                "VALIDATE_QUALITY needs transformation.parameters.qualityRules"))
            val failed = graft.operators.Quality
              .check(source, graft.operators.Quality.parseRules(spec))
              .filter(!org.apache.spark.sql.functions.col("passed"))
              .collect() // <= |rules| rows of metadata
            if (failed.nonEmpty)
              throw new ErrorPolicy.JobFailedException("VALIDATE_QUALITY: " + failed.map(r =>
                s"${r.getString(0)}(${r.getString(1)}) metric=${r.getDouble(2)} vs ${r.getDouble(3)}")
                .mkString("; "))
            stepsRun ::= step
          case "VALIDATE_DRIFT" =>
            // distribution-drift gate before loading: PSI of the
            // mapped source's drift column vs a baseline-era parquet,
            // exact-integer formula shared with the batch gate query
            // and the streaming monitor (operators.Profile.psiMicro).
            // Parameters (transformation.parameters): driftColumn,
            // driftBandWidth, driftBaselinePath, driftMaxPsiMicro
            // (default 200000 = the conventional 0.2 alert line).
            val p = cfg.transformation.parameters
            def need(k: String) = p.getOrElse(k,
              throw new IllegalArgumentException(s"VALIDATE_DRIFT needs transformation.parameters.$k"))
            val dcol = need("driftColumn")
            val width = need("driftBandWidth").toDouble
            val basePath = need("driftBaselinePath")
            val maxPsi = p.getOrElse("driftMaxPsiMicro", "200000").toLong
            val psi = graft.operators.Profile.psiMicro(
              source, spark.read.parquet(basePath), dcol, width)
            if (psi > maxPsi)
              throw new ErrorPolicy.JobFailedException(
                s"VALIDATE_DRIFT: psi_micro=$psi over $dcol exceeds $maxPsi vs baseline $basePath")
            stepsRun ::= step
          case "TRUNCATE_DESTINATION" =>
            // File sinks: truncation is the overwrite mode of the LOAD
            // write itself. JDBC sinks: eager TRUNCATE TABLE on the
            // target, sanitized like the reference
            // (TruncateTasklet.java:54-111, sanitize at :89).
            cfg.destination.filter(d => Set("JDBC", "ORACLE", "MSSQL", "SQLSERVER")(d.`type`.toUpperCase))
              .foreach { dest =>
                val c = dest.connectionDetails
                val url = c.jdbcUrl.getOrElse(
                  throw new IllegalArgumentException("JDBC truncate requires jdbcUrl"))
                val table = graft.sources.Readers.sanitizeIdent(c.tableName.getOrElse(
                  throw new IllegalArgumentException("JDBC truncate requires tableName")))
                Retry.withRetry() { () =>
                  val props = new java.util.Properties()
                  c.username.foreach(props.setProperty("user", _))
                  graft.sources.Readers.resolvePassword(c).foreach(props.setProperty("password", _))
                  val conn = java.sql.DriverManager.getConnection(url, props)
                  try conn.createStatement().execute(s"TRUNCATE TABLE $table")
                  finally conn.close()
                }
              }
            stepsRun ::= step
          case "LOAD" =>
            val dest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("LOAD step requires a destination"))
            // progress denominator only when tracking is attached — the
            // pre-count is an extra scan, the reference's own contract.
            // It runs OUTSIDE the job group so the denominator scan's
            // own input records don't saturate this group's counters.
            if (progressMetrics.isDefined) {
              spark.sparkContext.clearJobGroup()
              try expectedTotals.put(configKey, mappedSource().count())
              finally spark.sparkContext.setJobGroup(configKey, s"graft job ${cfg.jobId}",
                interruptOnCancel = true)
            }
            // Written/failed counts ride the write itself as observed
            // metrics (CollectMetrics) — one pass, no persist of the full
            // dataset (ErrorPolicy.load). E4: driver-side retry around the
            // whole write; the observations are created PER ATTEMPT —
            // Spark completes an observation even for a FAILED execution,
            // so reusing one across attempts would freeze the first
            // (failed) attempt's partial counts.
            val (w, f) = Retry.withRetry() { () =>
              ErrorPolicy.load(mappedSource(), cfg.mappings, cfg.errorHandling, dest)
            }
            written = w
            failedRows = f
            stepsRun ::= step
          case "LOAD_SNAPSHOT" =>
            // LOAD into a VERSIONED destination: the mapped batch
            // commits as the next immutable v=N under the destination
            // path with an atomic pointer move (Snapshots.write) —
            // every run of the job is a new pinned, time-travelable
            // version instead of an overwrite. PARQUET/ORC only
            // (self-describing read-back, like MERGE_STRATEGY).
            val sDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("LOAD_SNAPSHOT requires a destination"))
            require(Set("PARQUET", "ORC")(sDest.`type`.toUpperCase),
              s"LOAD_SNAPSHOT supports PARQUET/ORC destinations, got ${sDest.`type`}")
            val sPath = sDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException("LOAD_SNAPSHOT requires a file path destination"))
            var sCounts: (Long, () => Long) = null
            Retry.withRetry() { () =>
              val enforced = ErrorPolicy.enforceObserved(
                mappedSource(), cfg.mappings, cfg.errorHandling)
              val obs = org.apache.spark.sql.Observation(s"graft_snap_${seq.incrementAndGet()}")
              val counted = enforced.good.observe(obs, org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).as("rows"))
              graft.operators.Snapshots.write(counted, sPath, sDest.`type`.toLowerCase)
              sCounts = (obs.get.get("rows").map(_.asInstanceOf[Number].longValue).getOrElse(0L),
                enforced.rejected)
            }
            written = sCounts._1
            failedRows = sCounts._2()
            stepsRun ::= step
          case "MERGE_STRATEGY" =>
            // Incremental load: merge the incoming batch into the
            // EXISTING destination instead of replacing it — LOAD's
            // config surface plus transformation.parameters:
            //   mergeStrategy = KEEP_LATEST (SCD-1, needs
            //     versionColumn) | SCD2 (history rows, validity
            //     columns default valid_from/valid_to)
            //   mergeKeys = comma-separated key columns
            // File destinations with self-describing schemas only
            // (PARQUET/ORC): CSV/JSON read-back would re-infer types
            // and corrupt the merge; a JDBC destination's merge
            // belongs to the database's own MERGE statement.
            val dest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("MERGE_STRATEGY requires a destination"))
            require(Set("PARQUET", "ORC")(dest.`type`.toUpperCase),
              s"MERGE_STRATEGY supports PARQUET/ORC destinations, got ${dest.`type`}")
            val destPath = dest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException("MERGE_STRATEGY requires a file path destination"))
            val params = cfg.transformation.parameters
            def param(k: String): String = params.getOrElse(k,
              throw new IllegalArgumentException(s"MERGE_STRATEGY needs transformation.parameters.$k"))
            val keys = param("mergeKeys").split(",").map(_.trim).filter(_.nonEmpty).toSeq
            val enforced = ErrorPolicy.enforceObserved(
              mappedSource(), cfg.mappings, cfg.errorHandling)
            val fsPath = new org.apache.hadoop.fs.Path(destPath)
            val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
            // a destination whose publish crashed is restored first,
            // so the batch is never taken for a first load
            graft.sinks.Commit.repair(fs, fsPath)
            val firstLoad = !fs.exists(fsPath)
            def existing = Readers.forConfig(spark,
              SourceConfig(dest.`type`, dest.connectionDetails), cfg.mappings)
            val merged = param("mergeStrategy").toUpperCase match {
              // a first load merges into an empty destination, so keys
              // repeated within the batch resolve as in every later batch
              case "KEEP_LATEST" => graft.operators.Upsert.keepLatest(
                if (firstLoad) enforced.good.limit(0) else existing,
                enforced.good, keys, param("versionColumn"))
              case "SCD2" if firstLoad => enforced.good // nothing to close yet
              case "SCD2" => graft.operators.Upsert.scd2Apply(
                existing, enforced.good, keys,
                params.getOrElse("validFromColumn", "valid_from"),
                params.getOrElse("validToColumn", "valid_to"))
              case other =>
                throw new IllegalArgumentException(s"unknown mergeStrategy: $other")
            }
            // stage-and-swap: the destination is an INPUT of the merge
            // plan, so it cannot be overwritten in place — materialize
            // the merge next to it, then swap directories. (One keyed
            // shuffle + one rewrite of the dimension — the no-table-
            // format merge cost; at 100 TB a dimension is a sliver of
            // the fact volume, and a transactional table format slots
            // in at this same seam.)
            val mergeObs = org.apache.spark.sql.Observation(s"graft_merge_${seq.incrementAndGet()}")
            val counted = merged.observe(mergeObs, org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("rows"))
            graft.sinks.Commit.replace(fs, fsPath)(staged =>
              Writers.write(counted, dest.copy(connectionDetails =
                dest.connectionDetails.copy(path = Some(staged.toString), filePath = None))))
            written = mergeObs.get.get("rows").map(_.asInstanceOf[Number].longValue).getOrElse(0L)
            failedRows = enforced.rejected()
            stepsRun ::= step
          case "COMPACT_DESTINATION" =>
            // Lake maintenance from the same config surface: rewrite
            // the file destination into ~targetFileBytes files,
            // optionally range-clustering on sortColumns — the
            // post-load step that keeps a frequently-appended
            // destination scannable (see Maintenance.compact).
            // transformation.parameters: targetFileBytes (default
            // 128 MiB), sortColumns (csv), compression, minFiles
            // (skip the rewrite when the destination is already
            // at/below that many files; the skip lives in
            // Maintenance.compact, the one place it is decided).
            val cDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("COMPACT_DESTINATION requires a destination"))
            require(Set("PARQUET", "ORC")(cDest.`type`.toUpperCase),
              s"COMPACT_DESTINATION supports PARQUET/ORC destinations, got ${cDest.`type`}")
            val cPath = cDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException("COMPACT_DESTINATION requires a file path destination"))
            val cParams = cfg.transformation.parameters
            val stats = graft.operators.Maintenance.compact(spark, cPath,
              cDest.`type`.toLowerCase,
              targetFileBytes =
                cParams.get("targetFileBytes").map(_.toLong).getOrElse(128L << 20),
              sortCols = cParams.get("sortColumns").toSeq
                .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
              compression = cParams.get("compression")
                .orElse(cDest.connectionDetails.compression),
              minFiles = cParams.get("minFiles").map(_.toInt).getOrElse(1))
            // a skipped rewrite must not clobber a preceding LOAD's
            // written count (steps [LOAD, COMPACT, VALIDATE_LOAD]
            // would otherwise fail the validation with written=0)
            if (!stats.skipped) written = stats.rows
            stepsRun ::= step
          case "VACUUM_DESTINATION" =>
            // Commit-debris cleanup from the config surface: delete the
            // staging and aside leftovers (`_<dest>_(stage|old)_*`)
            // older than retentionHours beside the destination — the
            // step a pipeline schedules after MERGE/COMPACT so crash
            // artifacts don't accumulate. Age-gated because a
            // CONCURRENT swap's staging dir must never be deleted;
            // a rollback `_old_` is kept while the destination is
            // missing (it is the only copy). See Maintenance.vacuum.
            // transformation.parameters: retentionHours (default 24).
            val vDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("VACUUM_DESTINATION requires a destination"))
            val vPath = vDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException("VACUUM_DESTINATION requires a file path destination"))
            val retainMs = cfg.transformation.parameters.get("retentionHours")
              .map(_.toDouble).getOrElse(24.0) * 3600 * 1000
            val vp = new org.apache.hadoop.fs.Path(vPath)
            val vFs = vp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            val removed = graft.operators.Maintenance.vacuum(vFs, vp, retainMs.toLong)
            if (removed.nonEmpty)
              System.err.println(s"[graft-job] VACUUM_DESTINATION removed " +
                s"${removed.size} swap leftover(s): ${removed.mkString(", ")}")
            stepsRun ::= step
          case "MANIFEST_DESTINATION" =>
            // Zone-map maintenance from the same config surface: one
            // scan of the destination writes its per-file min/max
            // manifest (Maintenance.statsManifest) into the hidden
            // `_manifest` child — invisible to partition discovery,
            // versioned WITH the data it describes, and the input of
            // every manifest-driven skipping read (prunedPaths /
            // skippingRead). The manifest names data FILES, so any
            // rewrite of the destination (COMPACT_DESTINATION, a
            // merge swap) invalidates it — order this step AFTER
            // compaction in the step list and re-run it per load.
            // transformation.parameters: manifestColumns (csv,
            // required).
            val mDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("MANIFEST_DESTINATION requires a destination"))
            require(Set("PARQUET", "ORC")(mDest.`type`.toUpperCase),
              s"MANIFEST_DESTINATION supports PARQUET/ORC destinations, got ${mDest.`type`}")
            val mPath = mDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException("MANIFEST_DESTINATION requires a file path destination"))
            val mCols = cfg.transformation.parameters.get("manifestColumns").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            require(mCols.nonEmpty,
              "MANIFEST_DESTINATION requires transformation.parameters.manifestColumns")
            // flat layouts only, enforced like COMPACT: a hive root's
            // manifest would name leaf files that a later skippingRead
            // loads WITHOUT the partition columns (dataFiles throws on
            // nested layouts — manifest each leaf instead)
            val mP = new org.apache.hadoop.fs.Path(mPath)
            val mFs = mP.getFileSystem(spark.sparkContext.hadoopConfiguration)
            graft.sinks.Commit.repair(mFs, mP)
            graft.operators.Maintenance.dataFiles(mFs, mP)
            graft.operators.Maintenance.statsManifest(
                spark.read.format(mDest.`type`.toLowerCase).load(mPath), mCols)
              .coalesce(1) // one row per data FILE — metadata-sized
              .write.mode("overwrite").parquet(s"$mPath/_manifest")
            // optional per-file Bloom membership filters for point
            // lookups on unclustered columns (zone maps only serve
            // range predicates on clustered layouts). Same lifecycle
            // as `_manifest`: versioned with the data, invalidated by
            // any rewrite — re-run this step after compaction/merge.
            // transformation.parameters: bloomColumns (csv, optional).
            val bCols = cfg.transformation.parameters.get("bloomColumns").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            if (bCols.nonEmpty)
              graft.operators.Maintenance.bloomManifest(
                  spark.read.format(mDest.`type`.toLowerCase).load(mPath), bCols,
                  expectedPerFile = 100000L, fpp = 0.01)
                .coalesce(1)
                .write.mode("overwrite").parquet(s"$mPath/_bloom_manifest")
            stepsRun ::= step
          case "INDEX_DESTINATION" =>
            // Inverted-index maintenance from the config surface: one
            // tokenization pass over the destination writes DISTINCT
            // (token, id) postings into the hidden `_token_index`
            // child, bucketed by token (64 buckets) so a later
            // `token IN (...)` probe bucket-prunes to its terms. Like
            // the manifest, the index is versioned WITH the data —
            // rewrites invalidate it; order this step after them.
            // transformation.parameters: indexIdColumn + indexTextColumn
            // (required).
            val iDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("INDEX_DESTINATION requires a destination"))
            require(Set("PARQUET", "ORC")(iDest.`type`.toUpperCase),
              s"INDEX_DESTINATION supports PARQUET/ORC destinations, got ${iDest.`type`}")
            val iPath = iDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException("INDEX_DESTINATION requires a file path destination"))
            val idCol = cfg.transformation.parameters.getOrElse("indexIdColumn",
              throw new IllegalArgumentException(
                "INDEX_DESTINATION requires transformation.parameters.indexIdColumn"))
            val txtCol = cfg.transformation.parameters.getOrElse("indexTextColumn",
              throw new IllegalArgumentException(
                "INDEX_DESTINATION requires transformation.parameters.indexTextColumn"))
            import org.apache.spark.sql.functions.{array_distinct, col, explode, split}
            // bucketBy needs the session catalog — register against a
            // temp table name, then the files live under the hidden
            // child like the manifest (invisible to discovery)
            val idxTmp = s"graft_idx_tmp_${java.lang.Long.toHexString(System.nanoTime())}"
            val idxPath = s"$iPath/_token_index"
            val idxFs = new org.apache.hadoop.fs.Path(idxPath)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            graft.sinks.Commit.repair(idxFs, new org.apache.hadoop.fs.Path(iPath))
            if (idxFs.exists(new org.apache.hadoop.fs.Path(idxPath)))
              idxFs.delete(new org.apache.hadoop.fs.Path(idxPath), true)
            try {
              spark.read.format(iDest.`type`.toLowerCase).load(iPath)
                .select(col(idCol),
                  explode(array_distinct(split(col(txtCol), " "))).as("token"))
                .write.bucketBy(64, "token").sortBy("token")
                .option("path", idxPath)
                .saveAsTable(idxTmp)
            } finally spark.sql(s"DROP TABLE IF EXISTS $idxTmp")
            stepsRun ::= step
          case "DEDUP_DESTINATION" =>
            // Exact-dedup maintenance from the config surface: rewrite
            // the destination keeping ONE row per dedupKeyColumns
            // group. The keeper is the MIN over a (dedupOrderColumn,
            // every-other-column) struct — a total order over row
            // content, so the choice is deterministic even when the
            // order column ties (the same canonical-keeper discipline
            // as the dedup tier), and the reduce is one partial-
            // aggregating pass, no window. Crash-safe rename-aside
            // swap (the dedup plan lazily READS the current
            // destination while the staged copy writes). The rewrite
            // invalidates `_manifest`/`_bloom_manifest`/`_token_index`
            // — order those steps AFTER this one.
            // transformation.parameters: dedupKeyColumns (csv,
            // required), dedupOrderColumn (required).
            val ddDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("DEDUP_DESTINATION requires a destination"))
            require(Set("PARQUET", "ORC")(ddDest.`type`.toUpperCase),
              s"DEDUP_DESTINATION supports PARQUET/ORC destinations, got ${ddDest.`type`}")
            val ddPath = ddDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException("DEDUP_DESTINATION requires a file path destination"))
            val ddKeys = cfg.transformation.parameters.get("dedupKeyColumns").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            require(ddKeys.nonEmpty,
              "DEDUP_DESTINATION requires transformation.parameters.dedupKeyColumns")
            val ddOrd = cfg.transformation.parameters.getOrElse("dedupOrderColumn",
              throw new IllegalArgumentException(
                "DEDUP_DESTINATION requires transformation.parameters.dedupOrderColumn"))
            import org.apache.spark.sql.functions.{col, count, lit, min, struct, sum}
            val ddP = new org.apache.hadoop.fs.Path(ddPath)
            val ddFs = ddP.getFileSystem(spark.sparkContext.hadoopConfiguration)
            graft.sinks.Commit.repair(ddFs, ddP)
            val ddCur = spark.read.format(ddDest.`type`.toLowerCase).load(ddPath)
            // validate BOTH column sets up front: a typo'd key column
            // must fail with the step's contract message, not a later
            // unresolved-column AnalysisException mid-rewrite
            val ddMissing = ddKeys.filterNot(ddCur.columns.contains)
            require(ddMissing.isEmpty,
              s"dedupKeyColumns not in destination schema: ${ddMissing.mkString(",")} " +
                s"(have: ${ddCur.columns.mkString(",")})")
            val others = ddCur.columns.toSeq.filterNot(ddKeys.contains)
            require(others.contains(ddOrd),
              s"dedupOrderColumn $ddOrd must be a non-key destination column")
            val payload = ddOrd +: others.filterNot(_ == ddOrd)
            val deduped = ddCur
              .groupBy(ddKeys.map(col): _*)
              .agg(min(struct(payload.map(col): _*)).as("_keep"),
                count(lit(1)).as("_grp_n"))
            // both log counts from ONE job over the dedup aggregation
            // itself (kept rows = groups, input rows = Σ group sizes) —
            // no post-swap read-back scan of the destination
            val ddStats = deduped
              .agg(sum("_grp_n").as("_nb"), count(lit(1)).as("_na")).head()
            val (nBefore, nAfter) = (ddStats.getLong(0), ddStats.getLong(1))
            val kept = deduped
              .select(ddKeys.map(col) ++ payload.map(c => col(s"_keep.$c")): _*)
              .select(ddCur.columns.map(col): _*) // original column order
            graft.sinks.Commit.replace(ddFs, ddP)(staged =>
              kept.write.format(ddDest.`type`.toLowerCase).save(staged.toString))
            System.err.println(s"[graft-job] DEDUP_DESTINATION kept $nAfter of " +
              s"$nBefore row(s) by ${ddKeys.mkString(",")}")
            stepsRun ::= step
          case "INGEST_DEDUP_DESTINATION" =>
            // Continuous-dedup ingest from the config surface (the
            // round's streaming dedup tier composed end-to-end): the
            // job's SOURCE is ONE fresh batch of documents; the
            // destination is the standing dedup state — docs/ +
            // sketch/ (accumulated corpus + persisted LSH sketch),
            // pairs/ (near-dup pairs, each emitted once, cross-batch
            // candidates from the persisted sketch so the corpus is
            // never re-shingled), clusters/ (the standing assignment,
            // folded incrementally from only the new pairs). All four
            // ride the batch=<id> overwrite protocol: re-submitting a
            // committed ingestBatchId is a no-op and a crash replays
            // from exactly the pre-batch state.
            // transformation.parameters: ingestIdColumn,
            // ingestTextColumn, ingestBatchId (monotone per corpus).
            val ingDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("INGEST_DEDUP_DESTINATION requires a destination"))
            require(ingDest.`type`.toUpperCase == "PARQUET",
              s"INGEST_DEDUP_DESTINATION supports PARQUET destinations, got ${ingDest.`type`}")
            val ingPath = ingDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException(
                "INGEST_DEDUP_DESTINATION requires a file path destination"))
            val ingP = cfg.transformation.parameters
            def ingNeed(key: String) = ingP.getOrElse(key,
              throw new IllegalArgumentException(
                s"INGEST_DEDUP_DESTINATION requires transformation.parameters.$key"))
            graft.streaming.EventStreams.ingestDedupBatch(spark,
              mappedSource(), ingPath,
              ingNeed("ingestBatchId").toLong,
              idCol = ingNeed("ingestIdColumn"),
              textCol = ingNeed("ingestTextColumn"))
            // optional post-ingest compaction (ingestCompact=true):
            // fold the accumulated per-batch partitions — union
            // semantics for the append dirs, keep-newest for the
            // cluster snapshots — so a 24/7 ingest's listing cost
            // stays bounded. Runs between batches by construction
            // (this step IS the only writer). The union fold rewrites
            // ALL accumulated state, so it fires only once the
            // partition count crosses ingestCompactMinParts (default
            // 8) — amortized O(state/minParts) per batch instead of
            // O(state) every submission.
            if (ingP.get("ingestCompact").exists(_.equalsIgnoreCase("true"))) {
              val minParts = ingP.getOrElse("ingestCompactMinParts", "8").toInt
              Seq("docs", "sketch", "pairs").foreach(d =>
                graft.streaming.EventStreams.compactBatchState(
                  spark, s"$ingPath/$d", "union", minParts))
              // snapshot retention is a delete, not a rewrite — always cheap
              graft.streaming.EventStreams.compactBatchState(
                spark, s"$ingPath/clusters", "latest")
            }
            stepsRun ::= step
          case "INGEST_SPAN_DESTINATION" =>
            // Substring-grain continuous ingest from the config
            // surface — INGEST_DEDUP_DESTINATION's sibling for
            // duplicated-SPAN extraction: the job's SOURCE is one
            // fresh document batch, the destination holds the
            // accumulated gram-summary state (summary/) and the
            // emitted covered spans (spans/), both on the batch=<id>
            // exactly-once protocol with the stale-retry skip.
            // transformation.parameters: ingestIdColumn,
            // ingestTextColumn, ingestBatchId; optional spanGrain
            // (word|char, default word), spanK, spanMinRun,
            // ingestCompact (+ ingestCompactMinParts).
            val spDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("INGEST_SPAN_DESTINATION requires a destination"))
            require(spDest.`type`.toUpperCase == "PARQUET",
              s"INGEST_SPAN_DESTINATION supports PARQUET destinations, got ${spDest.`type`}")
            val spPath = spDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException(
                "INGEST_SPAN_DESTINATION requires a file path destination"))
            val spP = cfg.transformation.parameters
            def spNeed(key: String) = spP.getOrElse(key,
              throw new IllegalArgumentException(
                s"INGEST_SPAN_DESTINATION requires transformation.parameters.$key"))
            val spGrain = spP.getOrElse("spanGrain", "word")
            graft.streaming.EventStreams.ingestSpanBatch(spark,
              mappedSource(), spPath,
              spNeed("ingestBatchId").toLong,
              idCol = spNeed("ingestIdColumn"),
              textCol = spNeed("ingestTextColumn"),
              grain = spGrain,
              k = spP.getOrElse("spanK", if (spGrain == "char") "12" else "3").toInt,
              minRun = spP.getOrElse("spanMinRun", if (spGrain == "char") "20" else "5").toInt)
            if (spP.get("ingestCompact").exists(_.equalsIgnoreCase("true"))) {
              val minParts = spP.getOrElse("ingestCompactMinParts", "8").toInt
              Seq("summary", "spans").foreach(d =>
                graft.streaming.EventStreams.compactBatchState(
                  spark, s"$spPath/$d", "union", minParts))
            }
            stepsRun ::= step
          case "INGEST_BM25_DESTINATION" =>
            // BM25-index maintenance from the config surface (VERDICT
            // r17 #1 — the one ingest surface that was off the batch
            // protocol): the job's SOURCE is one fresh document batch;
            // the destination is the standing incremental BM25 index
            // state — postings/ (raw-dl rows, bucket-partitioned for
            // query-term pruning) + stats/ (per-batch (d, l) DELTA
            // rows; current stats = the fold over committed batches,
            // so there is no read-modify-write to crash through).
            // Both on the batch=<id> exactly-once protocol:
            // re-submitting a committed ingestBatchId is a no-op, a
            // stale id skips, and a crash between the two writes
            // replays deterministically from the batch input alone.
            // transformation.parameters: ingestIdColumn,
            // ingestTextColumn, ingestBatchId; optional ingestCompact
            // (+ ingestCompactMinParts) — the postings fold keeps the
            // bucket=<b> pruning layout via partitionCols.
            val bmDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("INGEST_BM25_DESTINATION requires a destination"))
            require(bmDest.`type`.toUpperCase == "PARQUET",
              s"INGEST_BM25_DESTINATION supports PARQUET destinations, got ${bmDest.`type`}")
            val bmPath = bmDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException(
                "INGEST_BM25_DESTINATION requires a file path destination"))
            val bmP = cfg.transformation.parameters
            def bmNeed(key: String) = bmP.getOrElse(key,
              throw new IllegalArgumentException(
                s"INGEST_BM25_DESTINATION requires transformation.parameters.$key"))
            graft.streaming.EventStreams.ingestBm25Batch(spark,
              mappedSource(), bmPath,
              bmNeed("ingestBatchId").toLong,
              idCol = bmNeed("ingestIdColumn"),
              textCol = bmNeed("ingestTextColumn"))
            if (bmP.get("ingestCompact").exists(_.equalsIgnoreCase("true"))) {
              val minParts = bmP.getOrElse("ingestCompactMinParts", "8").toInt
              graft.streaming.EventStreams.compactBatchState(
                spark, s"$bmPath/postings", "union", minParts,
                partitionCols = Seq("bucket"))
              graft.streaming.EventStreams.compactBatchState(
                spark, s"$bmPath/stats", "union", minParts)
            }
            stepsRun ::= step
          case "INGEST_ANN_DESTINATION" =>
            // IVF ANN-index maintenance from the config surface with
            // the append/rebuild split (VERDICT r17 #4): annMode=
            // rebuild re-derives centroids + the full reassignment
            // from the accumulated vectors (a new serving era);
            // annMode=append (default) assigns just this batch to the
            // standing era's centroids map-side. The drift decider
            // (runDecided: VALIDATE_DRIFT probe -> append on pass,
            // rebuild on fail) is the documented composition.
            // transformation.parameters: ingestIdColumn,
            // ingestVectorColumn, ingestBatchId; optional annNLists
            // (16), annMode (append|rebuild), ingestCompact
            // (+ ingestCompactMinParts) — ERA-AWARE maintenance
            // (annIngestCompact): retired-era postings/centroids
            // vacuum + the vectors union fold. The generic union fold
            // is deliberately NOT exposed for postings/ — relabeling
            // sub-era rows to an id at/above the era would resurrect
            // them into the era-pruned serving read.
            val anDst = cfg.destination.getOrElse(
              throw new IllegalArgumentException("INGEST_ANN_DESTINATION requires a destination"))
            require(anDst.`type`.toUpperCase == "PARQUET",
              s"INGEST_ANN_DESTINATION supports PARQUET destinations, got ${anDst.`type`}")
            val anPath2 = anDst.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException(
                "INGEST_ANN_DESTINATION requires a file path destination"))
            val anP2 = cfg.transformation.parameters
            def anNeed(key: String) = anP2.getOrElse(key,
              throw new IllegalArgumentException(
                s"INGEST_ANN_DESTINATION requires transformation.parameters.$key"))
            // annRungs (csv of bits|sq8|prefix<d>|sig<n>): maintain
            // the named precision-ladder projections as state
            // siblings of vectors/ — ONE ingest maintains every rung
            // (keep the set stable per destination; it is part of the
            // state's schema)
            graft.streaming.EventStreams.ingestAnnBatch(spark,
              mappedSource(), anPath2,
              anNeed("ingestBatchId").toLong,
              idCol = anNeed("ingestIdColumn"),
              vecCol = anNeed("ingestVectorColumn"),
              nLists = anP2.getOrElse("annNLists", "16").toInt,
              mode = anP2.getOrElse("annMode", "append"),
              rungs = anP2.get("annRungs").toSeq
                .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
            if (anP2.get("ingestCompact").exists(_.equalsIgnoreCase("true"))) {
              val (retired, folded) = graft.streaming.EventStreams.annIngestCompact(
                spark, anPath2, anP2.getOrElse("ingestCompactMinParts", "8").toInt)
              System.err.println(s"[graft-job] INGEST_ANN_DESTINATION compact: " +
                s"$retired retired-era partition(s) vacuumed, $folded vector partition(s) folded")
            }
            stepsRun ::= step
          case "BACKFILL_DESTINATION" =>
            // Idempotent partition re-run from the config surface:
            // load the (filtered, mapped) source batch through the
            // standard LOAD pipeline and overwrite EXACTLY the hive
            // partitions present in it (Writers.backfillPartitions —
            // dynamic partition overwrite scoped to the write), so a
            // corrected day/priority re-lands without touching its
            // neighbors and a replay converges to the same bytes.
            // transformation.parameters: partitionColumns (csv,
            // required, must be destination columns).
            val bfDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("BACKFILL_DESTINATION requires a destination"))
            require(bfDest.`type`.toUpperCase == "PARQUET",
              s"BACKFILL_DESTINATION supports PARQUET destinations, got ${bfDest.`type`}")
            val bfPath = bfDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException("BACKFILL_DESTINATION requires a file path destination"))
            val bfParts = cfg.transformation.parameters.get("partitionColumns").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            require(bfParts.nonEmpty,
              "BACKFILL_DESTINATION requires transformation.parameters.partitionColumns")
            val bfBatch = mappedSource()
            val bfMissing = bfParts.filterNot(bfBatch.columns.contains)
            require(bfMissing.isEmpty,
              s"partitionColumns not in the mapped batch: ${bfMissing.mkString(", ")}")
            // a destination whose publish crashed is restored first:
            // a backfill into a missing one would strand its other
            // partitions in the aside
            val bfP = new org.apache.hadoop.fs.Path(bfPath)
            graft.sinks.Commit.repair(bfP.getFileSystem(spark.sparkContext.hadoopConfiguration), bfP)
            graft.sinks.Writers.backfillPartitions(bfBatch, bfPath, bfParts)
            stepsRun ::= step
          case "ANONYMIZE_DESTINATION" =>
            // PII-scrub maintenance from the config surface: rewrite
            // the destination with the standard email/phone/id
            // placeholder chain (operators.Privacy.scrubPii — pure
            // codegen'd regexp_replace, no UDF) applied to the named
            // columns — the pre-release sanitation pass as a job
            // step, with the same crash-safe rename-aside swap as
            // DEDUP_DESTINATION. transformation.parameters:
            // scrubColumns (csv, required).
            val anDest = cfg.destination.getOrElse(
              throw new IllegalArgumentException("ANONYMIZE_DESTINATION requires a destination"))
            require(Set("PARQUET", "ORC")(anDest.`type`.toUpperCase),
              s"ANONYMIZE_DESTINATION supports PARQUET/ORC destinations, got ${anDest.`type`}")
            val anPath = anDest.connectionDetails.pathOrFile.getOrElse(
              throw new IllegalArgumentException("ANONYMIZE_DESTINATION requires a file path destination"))
            val anCols = cfg.transformation.parameters.get("scrubColumns").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
            require(anCols.nonEmpty,
              "ANONYMIZE_DESTINATION requires transformation.parameters.scrubColumns")
            import org.apache.spark.sql.functions.{col => anCol}
            val anP = new org.apache.hadoop.fs.Path(anPath)
            val anFs = anP.getFileSystem(spark.sparkContext.hadoopConfiguration)
            graft.sinks.Commit.repair(anFs, anP)
            val anCur = spark.read.format(anDest.`type`.toLowerCase).load(anPath)
            val missing = anCols.filterNot(anCur.columns.contains)
            require(missing.isEmpty,
              s"scrubColumns not in destination: ${missing.mkString(", ")}")
            val scrubbed = anCols.foldLeft(anCur)((d, c) =>
              d.withColumn(c, graft.operators.Privacy.scrubPii(anCol(c))))
            graft.sinks.Commit.replace(anFs, anP)(staged =>
              scrubbed.write.format(anDest.`type`.toLowerCase).save(staged.toString))
            stepsRun ::= step
          case "VALIDATE_LOAD" =>
            // Post-load row-count check (O4): destination readable and
            // row count == recordsWritten. The read-back must mirror the
            // WRITER's effective options — CSV writes header=true by
            // default while a bare CSV read assumes headerless, which
            // would count header lines as data rows.
            // A PARQUET/ORC read-back takes the mapped schema, which is
            // what the job's write steps write, so no footer-inference
            // job runs; the count does not read any column.
            cfg.destination.foreach { dest =>
              val back = (dest.`type`.toUpperCase, dest.connectionDetails.pathOrFile) match {
                case ("PARQUET" | "ORC", Some(path)) =>
                  Writers.readFiles(spark, dest, path, mappedSource().schema)
                case _ =>
                  val readBack = dest.`type`.toUpperCase match {
                    case "CSV" | "FLAT_FILE" | "DELIMITED" =>
                      dest.connectionDetails.copy(includeHeader =
                        Some(dest.connectionDetails.includeHeader.getOrElse(true)))
                    case _ => dest.connectionDetails
                  }
                  Readers.forConfig(spark, SourceConfig(dest.`type`, readBack), cfg.mappings)
              }
              val n = back.count()
              if (n != written)
                throw new ErrorPolicy.JobFailedException(s"VALIDATE_LOAD: wrote $written but destination has $n")
            }
            stepsRun ::= step
          case "NOTIFY_SUCCESS" => stepsRun ::= step // deferred to final notify
          case "NOTIFY_FAILURE" => () // only fires on failure path
          case other =>
            throw new IllegalArgumentException(s"unknown step: $other")
        }
      }
      val res = JobResult(cfg.jobId, configKey, Completed, written, failedRows, stepsRun.reverse,
        s"completed ${stepsRun.size} steps")
      registryPut(configKey, res)
      if (steps.exists(_.equalsIgnoreCase("NOTIFY_SUCCESS"))) notifier.notify(res)
      res
    } catch {
      case NonFatal(e) =>
        val res = JobResult(cfg.jobId, configKey, Failed(e.getMessage), written, failedRows,
          stepsRun.reverse, Option(e.getMessage).getOrElse(e.toString))
        registryPut(configKey, res)
        notifier.notify(res) // NOTIFY_FAILURE path (O15)
        res
    } finally {
      expectedTotals.remove(configKey) // live-progress state is per-run
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Submit-from-file CLI — parity with the reference's
    * `POST /jobs/submitFromFile?configPath=` + jobtrigger.sh flow. */
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: JobRunner <config.json> [sfDirSubstitution]")
    val cfg = JobConfig.fromFile(args(0))
    // SPARK_MASTER (a deployment's cluster URL) replaces the local master
    val spark = graft.GraftSession.local(graft.GraftSession.envCpus,
      sys.env.get("SPARK_MASTER").map("spark.master" -> _).toMap)
    try {
      val res = run(spark, cfg)
      println(s"""{"jobId":"${res.jobId}","status":"${res.status}","recordsWritten":${res.recordsWritten},"recordsFailed":${res.recordsFailed}}""")
      res.status match { case Failed(_) => sys.exit(1); case _ => () }
    } finally spark.stop()
  }
}
