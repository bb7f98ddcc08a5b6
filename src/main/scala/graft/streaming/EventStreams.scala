package graft.streaming

import graft.sinks.Commit
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/**
 * Structured Streaming over the `events` feed (SURVEY.md §2.8 /
 * FIXTURES.md §5). The reference uses Kafka/JMS only as a
 * control-plane trigger (one message = one batch job,
 * OracleAQListener.java:51-68); this module is the data-plane
 * extension: `readStream` -> watermark -> windowed/stateful aggs ->
 * `writeStream`.
 *
 * Every aggregation here has a batch twin in AnalyticsQueries
 * (events_tumbling_window / events_sliding_window /
 * events_sessionize) — the streaming and batch plans share the same
 * expressions, so the DuckDB oracle for the batch twin also pins the
 * streaming semantics (ignoring late-data cutoff, which only
 * watermarking adds).
 */
object EventStreams {

  /** Streaming scan of an events parquet directory (file source —
    * at scale this is the same code over a Kafka source).
    * `maxFilesPerTrigger` caps each micro-batch's file intake — the
    * backpressure knob of the file source (and, in tests, the way to
    * force a bounded feed through MULTIPLE micro-batches).
    *
    * The file source requires a user-supplied schema, which round 9
    * proved is a fixture-drift trap when hard-coded: the feed's `ts`
    * regenerated from nanos-int64 to timestamp[us] and the pinned
    * LongType schema silently read raw micros (timestamps collapsed
    * 1000x; watermarks never fired). So take the schema from the
    * directory's own parquet footer ([[footerSchema]]: one footer
    * read on the driver, no Spark job) and normalize `ts` by its
    * ACTUAL type via [[graft.Tables.normalizeEventTs]]. */
  def readEvents(spark: SparkSession, path: String,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(footerSchema(spark, path))
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    graft.Tables.normalizeEventTs(r.parquet(path))
  }

  /** `spark.read.parquet(path).schema` without the one-task Spark job
    * that schema inference launches to read a footer. Reads the file
    * Spark's inference reads with `mergeSchema` off (`_common_metadata`,
    * else `_metadata`, else the first data file by path, among the
    * files Spark's listing keeps), on the driver, through Spark's own
    * parquet-to-Spark conversion under the session conf. A directory
    * with subdirectories (partition columns to infer), or a path that
    * is missing or holds no file, is left to Spark itself.
    *
    * The file pick mirrors Spark 4.1's `ParquetUtils.inferSchema` and
    * `HadoopFSUtils.shouldFilterOutPathName`: re-check it against
    * them on a Spark upgrade (StreamingSpec pins the two equal). */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val listed =
      if (!fs.exists(dir)) Array.empty[org.apache.hadoop.fs.FileStatus]
      else fs.listStatus(dir)
        .filterNot(st => org.apache.spark.sql.GraftSqlBridge.skippedByFileListing(st.getPath.getName))
        .sortBy(_.getPath.toString)
    def named(n: String) = listed.find(_.getPath.getName == n)
    val pick = named("_common_metadata").orElse(named("_metadata")).orElse(listed.headOption)
    pick.filter(_ => !listed.exists(_.isDirectory)) match {
      case Some(file) =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf)).toNullable
      case None => spark.read.parquet(path).schema
    }
  }

  /** Tumbling-window counts with late-data handling via watermark. */
  def tumblingCounts(events: DataFrame,
                     windowLen: String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // try_cast: a single out-of-range value would otherwise throw
        // under ANSI and kill the long-running query (a batch job can
        // rerun; a stream must degrade)
        sum(col("value").try_cast(DecimalType(12, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /**
   * Streaming exact deduplication: drop repeat deliveries of the same
   * event id whose event times fall within the watermark delay of the
   * first-seen copy — the at-least-once -> effectively-once ingest
   * step of a streaming pipeline. `dropDuplicatesWithinWatermark`
   * (not plain `dropDuplicates`) is what makes this viable at scale:
   * state for an id is EVICTED once the watermark passes it, so state
   * is bounded by the delay window instead of growing with the
   * stream's full history.
   */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Sliding-window aggregate (overlapping windows). */
  def slidingCounts(events: DataFrame,
                    windowLen: String = "1 hour", slide: String = "30 minutes",
                    watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows: events gap-merged per user (dynamic-length
    * state — the thing tumbling windows can't express). */
  def sessionize(events: DataFrame, gap: String = "10 minutes",
                 watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min("ts").as("session_start"), max("ts").as("session_end"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))

  /**
   * Stream-stream interval join: for each `purchase` event, the
   * `signup` events of the same user within the preceding hour.
   * Watermarks on BOTH sides bound the join state — without them a
   * stream-stream join's buffers grow forever (the 100 TB failure
   * mode); with them Spark evicts rows older than
   * watermark - interval.
   */
  def correlate(events: DataFrame,
                leftType: String = "signup", rightType: String = "purchase",
                interval: String = "1 hour", watermark: String = "2 hours",
                joinType: String = "inner"): DataFrame = {
    val left = events.filter(col("event_type") === leftType)
      .select(col("user_id").as("l_user"), col("ts").as("l_ts"), col("event_id").as("l_id"))
      .withWatermark("l_ts", watermark)
    val right = events.filter(col("event_type") === rightType)
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"), col("event_id").as("r_id"))
      .withWatermark("r_ts", watermark)
    // leftOuter: unmatched left rows emit (with null right side) only
    // once the watermark passes their join window — the state-eviction
    // moment, which is what makes outer results correct AND bounded.
    left.join(right,
      col("l_user") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $interval"),
      joinType)
      .select(col("l_user").as("user_id"), col("l_id"), col("r_id"), col("l_ts"), col("r_ts"))
  }

  /** Custom per-key state: running count + running value sum per user,
    * emitted on every update (KeyValueGroupedDataset.mapGroupsWithState
    * — the escape hatch when built-in windows can't express the
    * state machine). */
  final case class UserStat(user_id: Long, n_events: Long, total_value: Double)

  def runningUserStats(events: DataFrame)(implicit spark: SparkSession): Dataset[UserStat] = {
    import spark.implicits._
    // null user_id/value would throw in the primitive-tuple encoder and
    // terminate the stream; rows without a key or value carry no signal
    events.selectExpr("user_id", "value")
      .filter(col("user_id").isNotNull && col("value").isNotNull)
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), UserStat](GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Double)]) =>
          val (n0, v0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { case (_, value) => n += 1; v += value }
          state.update((n, v))
          UserStat(uid, n, v)
      }
  }

  final case class DebouncedEvent(event_id: Long, user_id: Long, event_type: String)

  /**
   * Streaming debounce: per (user, event_type), emit an event only
   * when it arrives more than `quietUs` after the PREVIOUS event of
   * that key (emitted or not — a throttle on consecutive gaps,
   * matching the batch `events_debounce` LAG form exactly). State is
   * ONE long per key (the last event time), carried across
   * micro-batches by `flatMapGroupsWithState` — the escape hatch for
   * state machines the built-in windows can't express, and bounded by
   * key cardinality, not stream history.
   *
   * Within a micro-batch the group's rows arrive UNORDERED (shuffle
   * order); the batch twin's semantics are defined on (ts, event_id)
   * order, so each batch's group is sorted first — bounded by the
   * key's per-batch volume. Correct cross-batch output additionally
   * needs the FEED to be time-split across batches (replay in time
   * order), which is how the gate stages it.
   */
  def debounceStream(events: DataFrame, quietUs: Long)
                    (implicit spark: SparkSession): Dataset[DebouncedEvent] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .as[(Long, String, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Long, DebouncedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case ((uid, etype), rows, state: GroupState[Long]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = Seq.newBuilder[DebouncedEvent]
          sorted.foreach { r =>
            if (last == Long.MinValue || r._3 - last > quietUs)
              out += DebouncedEvent(r._4, uid, etype)
            last = r._3
          }
          if (last != Long.MinValue) state.update(last)
          out.result().iterator
      }
  }

  final case class AttributedPurchase(event_id: Long, user_id: Long,
                                      channel: String, cents: Long)

  /**
   * STREAMING LAST-TOUCH ATTRIBUTION: every purchase credits the
   * user's most recent marketing touch (click/view) SEEN SO FAR —
   * including touches from earlier micro-batches, which is exactly
   * what the cross-batch ValueState exists for; a purchase with no
   * prior touch credits 'direct'. State per user is ONE
   * (touch_us, touch_id, channel) triple — bounded by the user
   * population, not the stream. Within a batch rows sort by event
   * time (the stateful-op discipline this file's debounce/anomaly
   * operators share); correctness under event-time order needs the
   * time-ordered replay (`byTime` staging), same contract as the
   * other order-sensitive stateful gates.
   *
   * Heap bound (stated, unit-pinned by StreamingSpec's hot-user
   * test): the state call buffers ONE USER'S attribution-relevant
   * slice OF ONE MICRO-BATCH — purchases and touches only; every
   * other event type is filtered out BEFORE groupByKey, so a
   * telemetry-noisy user costs nothing here. The bound is
   * per-(user, batch), never per-history; a pathologically hot
   * purchaser in one batch is the residual exposure, controlled by
   * micro-batch sizing (maxFilesPerTrigger / maxOffsetsPerTrigger),
   * not by state size.
   */
  def attributionStream(events: DataFrame)
                       (implicit spark: SparkSession): Dataset[AttributedPurchase] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      // only purchases credit and only click/view touch: dropping every
      // other type BEFORE the shuffle keeps the per-(user, batch) buffer
      // to the attribution-relevant slice
      .filter(col("event_type").isin("purchase", "click", "view"))
      .as[(Long, String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, String), AttributedPurchase](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Long, String)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._3, r._4))
          var touch = state.getOption.orNull
          val out = Seq.newBuilder[AttributedPurchase]
          sorted.foreach { r =>
            if (r._2 == "purchase")
              out += AttributedPurchase(r._4, uid,
                if (touch == null) "direct" else touch._3, r._5)
            else if (r._2 == "click" || r._2 == "view")
              touch = (r._3, r._4, r._2)
          }
          if (touch != null) state.update(touch)
          out.result().iterator
      }
  }

  /** Start an already-configured streaming writer under
    * `Trigger.AvailableNow`: process everything the source holds at
    * start, then stop. The one place a graft stream picks its
    * trigger; [[jdbcLoadStream]] hands the started query back, every
    * other caller goes through [[runAvailableNow]]. */
  private def startAvailableNow[T](w: DataStreamWriter[T]): StreamingQuery =
    w.trigger(Trigger.AvailableNow()).start()

  /** [[startAvailableNow]], then block until the run finishes — the
    * runner behind every operator here that reads its sink back. A
    * failed micro-batch surfaces as the `StreamingQueryException`
    * `awaitTermination` throws. */
  private[graft] def runAvailableNow[T](w: DataStreamWriter[T]): Unit =
    startAvailableNow(w).awaitTermination()

  /** The per-batch partition directory of the exactly-once append
    * protocol ([[runExactlyOnce]]): every micro-batch writes each of
    * its outputs to its OWN `<part>=<batchId>` partition with
    * OVERWRITE mode, so a replayed batch replaces its own files
    * instead of duplicating them. `part` is `batch` everywhere except
    * the operators whose output carries the caller's columns. */
  private def batchPart(dir: String, batchId: Long, part: String = "batch") =
    s"$dir/$part=$batchId"

  /**
   * The per-batch exactly-once append protocol on top of
   * [[runAvailableNow]], shared by every foreachBatch operator that
   * appends per-batch partitions. Per micro-batch: drop marker-less
   * partials of `outDir` and `stateDirs` ([[dropPartialBatchDirs]]),
   * skip the batch whole when every directory already holds this
   * batch id's `_SUCCESS` marker, else run `write(batch, batchId)`,
   * which writes each output to its own [[batchPart]] with OVERWRITE.
   * A foreachBatch retry at any crash point therefore replaces only
   * its own output and never repeats a committed batch's side
   * effects. Returns `outDir`'s committed rows with the bookkeeping
   * `part` column dropped.
   *
   * `part` is `batch` by default; operators whose output carries the
   * caller's columns use `enrich_batch`, since one of those columns
   * could itself be named `batch`.
   */
  private def runExactlyOnce(spark: SparkSession, stream: DataFrame, checkpoint: String,
                             outDir: String, stateDirs: Seq[String] = Nil,
                             part: String = "batch")
                            (write: (DataFrame, Long) => Unit): DataFrame = {
    val dirs = outDir +: stateDirs
    runAvailableNow(stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val conf = batch.sparkSession.sparkContext.hadoopConfiguration
        dropPartialBatchDirs(conf, dirs, part)
        val committed = dirs.forall(d => fsOf(conf, d).exists(
          new org.apache.hadoop.fs.Path(batchPart(d, batchId, part), "_SUCCESS")))
        if (!committed) write(batch, batchId)
      })
    spark.read.parquet(outDir).drop(part)
  }

  /** The FileSystem of THIS directory — every protocol helper
    * resolves per path (out and state dirs may live on DIFFERENT
    * filesystems: s3a output beside local state; a single fs object
    * checkPath-throws 'Wrong FS' on the other scheme). */
  private def fsOf(conf: org.apache.hadoop.conf.Configuration, dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)

  /** Replay repair for the `<part>=<id>` append protocol: first
    * resolve any crashed COMPACTION ([[repairCompaction]] — roll it
    * forward or back so no batch partition is half-moved), then drop
    * any `part` partition without a `_SUCCESS` marker — the partial
    * output of a write that crashed mid-flight (parquet's committer
    * writes the marker last, so marker-less dirs are never
    * complete). Runs before ANY read of the directories;
    * metadata-sized (one child listing per dir). Only the CURRENT
    * batch can be partial — the streaming checkpoint records a batch
    * only after foreachBatch returns, so every earlier batch's dirs
    * completed. Also the LAYOUT GUARD: a directory holding root-level
    * data files (the pre-protocol flat append layout) is rejected
    * LOUDLY with the migration story — silently treating the old
    * corpus as empty would drop every cross-batch pair, and the next
    * write would leave a mixed layout partition discovery cannot
    * read. */
  private def dropPartialBatchDirs(conf: org.apache.hadoop.conf.Configuration,
                                   dirs: Seq[String], part: String = "batch"): Unit =
    dirs.foreach { dir =>
      val fs = fsOf(conf, dir)
      repairCompaction(fs, dir)
      val p = new org.apache.hadoop.fs.Path(dir)
      if (fs.exists(p)) {
        val children = fs.listStatus(p)
        val flat = children.exists { st =>
          val n = st.getPath.getName
          st.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        if (flat)
          throw new IllegalStateException(
            s"$part protocol: $dir holds root-level data files — the pre-protocol " +
            "flat-append layout. Migrate once before resuming: read the flat files, " +
            s"write them as a `$part=0` child partition (plain parquet, the committer's " +
            "_SUCCESS included), and remove the root files; the accumulated state then " +
            "serves as the first committed batch")
        children.foreach { st =>
          if (st.getPath.getName.startsWith(s"$part=") &&
              !fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
            fs.delete(st.getPath, true)
        }
      }
    }

  private val CompactStage = "_compact_stage"
  private val CompactAside = "_compact_old_" // + batchId, no '=' — invisible to discovery

  /** Crash repair for [[compactBatchState]]'s union protocol — runs
    * inside [[dropPartialBatchDirs]] so EVERY protocol participant
    * (streams, the ingest step, compaction itself) resolves a crashed
    * compaction before its first read. A stage without `_SUCCESS`
    * (crash mid-consolidation) rolls BACK: restore any asides, drop
    * the stage — the original partitions are intact. A COMPLETE stage
    * rolls FORWARD deterministically: finish setting the source
    * partitions aside, swap the stage in as `batch=<target>`, drop
    * the asides — finishing exactly what the crashed compactor
    * started. Metadata-sized (one listing + renames). */
  private def repairCompaction(fs: org.apache.hadoop.fs.FileSystem,
                               dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    if (!fs.exists(root)) return
    val stage = new Path(root, CompactStage)
    def asides() = fs.listStatus(root).filter(_.getPath.getName.startsWith(CompactAside))
    if (fs.exists(stage)) {
      val done = fs.exists(new Path(stage, "_SUCCESS")) &&
        fs.exists(new Path(stage, "_compact_target"))
      if (!done) {
        // crash before the stage completed: the source partitions are
        // authoritative — restore anything set aside, drop the stage
        asides().foreach { st =>
          val id = st.getPath.getName.stripPrefix(CompactAside)
          val live = new Path(root, s"batch=$id")
          if (!fs.exists(live)) {
            if (!fs.rename(st.getPath, live))
              throw new IllegalStateException(s"compaction repair: cannot restore $live")
          } else fs.delete(st.getPath, true)
        }
        fs.delete(stage, true)
      } else {
        // stage complete: roll forward
        finishCompaction(fs, root, stage)
      }
    } else {
      // crash after the swap, before aside cleanup
      asides().foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** The forward half shared by [[compactBatchState]] and its repair:
    * set every committed source partition <= target aside, swap the
    * complete stage in as `batch=<target>`, drop asides last. */
  private def finishCompaction(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path,
                               stage: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val tIn = fs.open(new Path(stage, "_compact_target"))
    val target =
      try scala.io.Source.fromInputStream(tIn, "UTF-8").mkString.trim.toLong
      finally tIn.close()
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("batch="))
        scala.util.Try(n.stripPrefix("batch=").toLong).toOption
          .filter(_ <= target).foreach { id =>
            if (!fs.rename(st.getPath, new Path(root, s"$CompactAside$id")))
              throw new IllegalStateException(s"compaction: cannot set aside batch=$id")
          }
    }
    fs.delete(new Path(stage, "_compact_target"), false)
    if (!fs.rename(stage, new Path(root, s"batch=$target")))
      throw new IllegalStateException(s"compaction: cannot swap in batch=$target")
    fs.listStatus(root).filter(_.getPath.getName.startsWith(CompactAside))
      .foreach(st => fs.delete(st.getPath, true))
  }

  /**
   * COMPACT a `batch=<id>` protocol state directory — the maintenance
   * operator a 24/7 ingest needs: every micro-batch adds one
   * partition, and at 100 TB the real bill of months of 1-minute
   * batches is the listing/open cost of ~500k tiny directories, not
   * the bytes. Two folds, chosen by the directory's semantics:
   *
   *  - `union` (docs, sketches, pair logs, gram summaries — anything
   *    readers UNION): every committed partition STRICTLY BELOW the
   *    newest id consolidates into ONE `batch=<second-newest id>`
   *    partition; the newest partition is never touched. Sparing the
   *    newest is load-bearing, not an optimization (ADVICE r17): a
   *    multi-directory ingest of batch N can crash with N committed
   *    in SOME state dirs (pairs/docs/sketch write before clusters),
   *    and folding history INTO batch=N would make the retry — which
   *    sees the batch uncommitted and recomputes from
   *    `stateBefore(N)`, now empty — overwrite the compacted
   *    partition with batch-N-only rows, silently destroying the
   *    accumulated state. With the newest spared, a retry of the
   *    newest id always finds its own partition intact (overwritten
   *    deterministically) and its prior state complete under lower
   *    ids, whatever the crash point. Protocol-preserving: every
   *    future batch b reads the same `stateBefore(b)` rows before
   *    and after (folded rows carry an id < b). Crash-safe
   *    via stage-then-swap: rows write to an underscore staging child
   *    (invisible to discovery, target id recorded inside), source
   *    partitions set aside, stage swapped in, asides dropped last —
   *    [[repairCompaction]] rolls an interrupted run forward (stage
   *    complete) or back (stage partial) before anyone reads.
   *  - `latest` (cluster snapshots — each partition is a COMPLETE
   *    state, readers take the newest): simply drop every committed
   *    partition except the newest; no rewrite, trivially crash-safe
   *    (a surviving older snapshot is re-dropped next run).
   *
   * Returns the number of partitions compacted away (0 = nothing to
   * do). Run it BETWEEN batches (the ingest step's `ingestCompact`
   * parameter, or an out-of-band maintenance job) — never
   * concurrently with a writer on the same directory. `minParts`
   * amortizes the union rewrite: the fold reads and rewrites ALL
   * accumulated rows, so compacting after every batch is O(state)
   * per batch — O(n²) cumulative; compacting only once the partition
   * count exceeds `minParts` keeps the amortized rewrite cost
   * O(state / minParts) per batch while still bounding the listing
   * at `minParts` directories.
   */
  def compactBatchState(spark: SparkSession, dir: String,
                        mode: String = "union", minParts: Int = 2,
                        partitionCols: Seq[String] = Nil): Long = {
    import org.apache.hadoop.fs.Path
    require(mode == "union" || mode == "latest",
      s"compactBatchState mode must be 'union' or 'latest', got $mode")
    require(minParts >= 2, s"minParts must be >= 2, got $minParts")
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = fsOf(conf, dir)
    dropPartialBatchDirs(conf, Seq(dir)) // also resolves a crashed compaction
    if (!fs.exists(root)) return 0L
    val ids = committedBatchIds(conf, dir)
    if (ids.size < minParts) return 0L
    if (mode == "latest") {
      ids.init.foreach(i => fs.delete(new Path(root, s"batch=$i"), true))
      ids.size - 1L
    } else {
      // fold ONLY ids strictly below the newest (see the union-mode
      // doc above — the newest id may be a sibling dir's mid-crash
      // batch whose retry must find this dir's prior state intact)
      val foldIds = ids.init
      if (foldIds.size < 2) return 0L
      val target = foldIds.last
      val stage = new Path(root, CompactStage)
      fs.delete(stage, true)
      // partitionCols preserves a sub-partitioned layout (e.g. the
      // BM25 postings' bucket=<b> pruning dirs) through the fold
      val w = spark.read.parquet(dir).filter(col("batch") <= target)
        .drop("batch").write
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(stage.toString)
      val out = fs.create(new Path(stage, "_compact_target"), true)
      try out.write(target.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      finishCompaction(fs, root, stage)
      foldIds.size - 1L
    }
  }

  /** The committed batch ids of `dir` (ascending) —
    * [[dropPartialBatchDirs]] must have run first so every surviving
    * partition is complete. Metadata-sized (one listing). */
  private def committedBatchIds(conf: org.apache.hadoop.conf.Configuration,
                                dir: String): Seq[Long] = {
    val fs = fsOf(conf, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .flatMap(n => scala.util.Try(n.stripPrefix("batch=").toLong).toOption)
      .sorted
  }

  /** True iff `dir` holds a committed `batch=<i>` partition with
    * i < batchId — the "prior state exists" test of the exactly-once
    * append protocol. */
  private def hasCommittedBatchBefore(conf: org.apache.hadoop.conf.Configuration,
                                      dir: String, batchId: Long): Boolean =
    committedBatchIds(conf, dir).exists(_ < batchId)

  private sealed trait IngestSkip
  private case object SkipCommitted extends IngestSkip
  private case object SkipStale extends IngestSkip
  private case object RunKernel extends IngestSkip

  /** The exactly-once skip decision ONE multi-directory ingest makes
    * (self-review r18; re-cut per ADVICE r18 — the violation now
    * fails at the SUBMISSION that would create the inconsistency,
    * not at a later retry):
    *  - every dir carries this batch's marker → committed, skip whole;
    *  - a LATER id is committed (in any dir) → stale, skip. Mixed or
    *    missing markers here can only be compaction artifacts (a fold
    *    removed this id's partition from some dirs — including the
    *    crash window between two per-dir compaction passes): the
    *    submission guard below refuses any NEW id while an earlier
    *    one is half-committed, so a later commit PROVES this id once
    *    completed. The r18 cut threw here, which false-alarmed on
    *    exactly that half-compacted retry (ADVICE r18 finding 2);
    *  - otherwise this id is fresh or the newest, crashed id being
    *    retried in order. Before running, REFUSE if the strict dirs
    *    disagree on their newest committed id below this one: every
    *    batch writes every strict dir, and both compaction modes
    *    spare the newest partition, so unequal maxes mean an earlier
    *    batch crashed mid-protocol and was ABANDONED (ADVICE r18
    *    finding 1 — running a new id now would commit above the
    *    inconsistent state and freeze it, e.g. BM25 postings forever
    *    scored against stats that exclude their batch's delta). The
    *    in-order retry of the crashed id itself passes the guard
    *    (its own id is excluded) and heals by overwrite;
    *  - else run the kernel (the kernel overwrites its own
    *    partitions deterministically). */
  private def ingestSkip(conf: org.apache.hadoop.conf.Configuration,
                         dirs: Seq[String], batchId: Long,
                         strictDirs: Seq[String]): IngestSkip = {
    val marks = dirs.map(d => fsOf(conf, d).exists(
      new org.apache.hadoop.fs.Path(batchPart(d, batchId), "_SUCCESS")))
    if (marks.forall(identity)) SkipCommitted
    else if (dirs.exists(d => committedBatchIds(conf, d).exists(_ > batchId)))
      SkipStale
    else {
      val maxes = strictDirs.map(d =>
        committedBatchIds(conf, d).filter(_ < batchId).maxOption)
      if (maxes.distinct.size > 1)
        throw new IllegalStateException(
          s"ingest replay-order violation: the state dirs disagree on the newest " +
            s"committed batch below $batchId (" +
            strictDirs.zip(maxes).map { case (d, m) =>
              s"$d: ${m.map(i => s"batch=$i").getOrElse("none")}"
            }.mkString("; ") +
            s") — an earlier batch crashed mid-protocol and was abandoned. Retry " +
            s"batch=${maxes.flatten.max} to completion BEFORE submitting batch=$batchId; " +
            "running now would commit a later id above the inconsistent state and " +
            "freeze it (its committed dirs would serve forever against partners " +
            "that exclude its delta)")
      RunKernel
    }
  }

  /** The committed state BEFORE `batchId`: partition-prune to
    * `batch < batchId` (metadata-only — a replayed batch never reads
    * its own prior partial rows, and partition pruning means the
    * excluded dirs' files are never opened) and drop the bookkeeping
    * column so callers see the operator's own schema. */
  private def stateBefore(spark: SparkSession, dir: String,
                          batchId: Long): DataFrame =
    spark.read.parquet(dir).filter(col("batch") < batchId).drop("batch")

  /**
   * STREAMING MinHash NEAR-DEDUP — the continuous-ingestion form of
   * the batch dedup flagship: the corpus's LSH sketch
   * (`Dedup.signatureBandRows`, bands × 16 bytes per doc) and its raw
   * documents persist as state; each arriving micro-batch (1) probes
   * the sketch for cross-batch candidates and exact-Jaccard-verifies
   * them against ONLY the candidate corpus docs
   * (`Dedup.incrementalNearDupsFromSketch` — the corpus is never
   * re-shingled), (2) finds its batch-internal pairs with the
   * standard equi-join path, and (3) adds its own docs and sketch
   * rows into the state. A pair is emitted exactly once — when its
   * LATER member arrives — so the union of all batches' outputs
   * equals the one-shot `minhashNearDups` over the full corpus
   * (identical banding on both paths; the gate pins the union
   * against the exact-Jaccard quadratic oracle).
   *
   * Exactly-once state on at-least-once delivery: each batch writes
   * its pairs, docs, and sketch rows to its own `batch=<batchId>`
   * partition of the three directories with OVERWRITE mode (the
   * [[runExactlyOnce]] replay protocol), a batch whose three
   * `_SUCCESS` markers all exist is skipped whole, and every batch
   * first drops marker-less partials ([[dropPartialBatchDirs]]) and
   * reads prior state partition-pruned to `batch < batchId` — so a
   * foreachBatch retry at ANY crash point recomputes from exactly
   * the pre-batch state and replaces only its own output, never
   * duplicating state rows or emitted pairs. Pair output is written
   * partition-parallel (no single-writer funnel: a viral-dup batch's
   * pair volume is quadratic in its copy count and must not serialize
   * through one task).
   *
   * Per-batch cost: batch-sized banding + one sketch equi-join +
   * candidate-sized verify + batch-sized writes + one metadata-sized
   * repair listing — the corpus term appears ONLY as the sketch join
   * side, the same scale posture as `dedup_incremental`. Feed
   * contract: doc ids are unique across the stream (the fresh-ingest
   * convention).
   */
  def nearDupStream(spark: SparkSession, stream: DataFrame,
                    outDir: String, stateDir: String, checkpoint: String,
                    shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                    num: Int = 7, den: Int = 10): DataFrame = {
    val docsDir = s"$stateDir/docs"
    val sketchDir = s"$stateDir/sketch"
    runExactlyOnce(spark, stream, checkpoint, outDir, Seq(docsDir, sketchDir)) { (batch, batchId) =>
      val s = batch.sparkSession
      writeNearDupBatch(s, s.sparkContext.hadoopConfiguration, batch, batchId,
        outDir, docsDir, sketchDir, shingleN, k, bands, num, den)
    }
  }

  /** The compute-and-write kernel ONE near-dedup ingest shares between
    * [[nearDupStream]]'s foreachBatch and [[ingestDedupBatch]]'s job
    * form: batch-internal pairs + sketch-probed cross pairs into
    * `batch=<id>` of `outDir`, the batch's docs and sketch rows into
    * the state dirs. The caller owns the protocol (partial repair +
    * committed skip); this kernel owns determinism — given the same
    * committed prior state it writes the same bytes on every replay. */
  private def writeNearDupBatch(s: SparkSession,
                                conf: org.apache.hadoop.conf.Configuration,
                                batch: DataFrame, batchId: Long,
                                outDir: String, docsDir: String, sketchDir: String,
                                shingleN: Int, k: Int, bands: Int,
                                num: Int, den: Int): Unit = {
    val b = batch.select("doc_id", "text").localCheckpoint()
    // every checkpointed frame of this batch, freed in `finally` —
    // `b`, the spine and band frames below, and (through `out`'s
    // plan) the candidate frame incrementalNearDupsFromSketchSpine
    // pins internally (ADVICE r16: without this a long-running stream
    // accumulates one candidate checkpoint per micro-batch, and a
    // failed write would leak its batch's checkpoints on every retry)
    var pinned = List(b)
    try {
      // ONE shingle spine and ONE band-row frame per micro-batch,
      // shared by all three consumers (internal-pair join, cross-batch
      // sketch probe, the sketch write — bandRows IS signatureBandRows'
      // output, bit-identically): before this the batch's shingle
      // kernel ran up to six times and the minhash banding three times
      // per ingest (guide §1.2/§2.3 — don't compute things twice;
      // measured: the 3-job ingest gate spent 3.4 s in
      // minhashNearDups alone at sf0.1).
      val spine = graft.operators.Dedup
        .shingleSpine(b, "doc_id", "text", shingleN).localCheckpoint()
      pinned ::= spine
      val bandRows = graft.operators.Dedup
        .bandRowsOfSpine(spine, "doc_id", k, bands).localCheckpoint()
      pinned ::= bandRows
      val internal = graft.operators.Dedup.verifyJaccard(
        graft.operators.Dedup.candidatePairsFrom(bandRows, "doc_id"),
        spine, "doc_id", num, den)
      val out =
        if (hasCommittedBatchBefore(conf, sketchDir, batchId)) {
          val cross = graft.operators.Dedup.incrementalNearDupsFromSketchSpine(
              stateBefore(s, sketchDir, batchId),
              stateBefore(s, docsDir, batchId),
              bandRows, spine, "doc_id", "text", shingleN, num, den)
            // one-shot orientation: doc_a < doc_b with (na, nb)
            // following the id order, not the corpus/fresh roles
            .select(
              least(col("corpus_id"), col("fresh_id")).as("doc_a"),
              greatest(col("corpus_id"), col("fresh_id")).as("doc_b"),
              col("n_common"),
              when(col("corpus_id") < col("fresh_id"), col("na"))
                .otherwise(col("nb")).as("na"),
              when(col("corpus_id") < col("fresh_id"), col("nb"))
                .otherwise(col("na")).as("nb"))
          internal.unionByName(cross)
        } else internal
      pinned ::= out
      out.write.mode("overwrite").parquet(batchPart(outDir, batchId))
      b.write.mode("overwrite").parquet(batchPart(docsDir, batchId))
      bandRows.write.mode("overwrite").parquet(batchPart(sketchDir, batchId))
    } finally pinned.foreach(graft.operators.Checkpoints.free)
  }

  /** The newest committed `batch=<i>` with i < batchId, or None —
    * locates the standing cluster snapshot [[ingestDedupBatch]] folds
    * into ([[dropPartialBatchDirs]] must have run first). */
  private def latestCommittedBatchBefore(conf: org.apache.hadoop.conf.Configuration,
                                         dir: String, batchId: Long): Option[Long] =
    committedBatchIds(conf, dir).filter(_ < batchId).lastOption

  /**
   * ONE exactly-once CONTINUOUS-DEDUP INGEST — the batch-job form of
   * the round's streaming dedup tier, and the kernel behind the
   * `INGEST_DEDUP_DESTINATION` job step: fold a fresh document batch
   * into the standing dedup state at `destDir`, which holds
   * `docs/` + `sketch/` (the accumulated corpus and its persisted LSH
   * sketch), `pairs/` (every near-dup pair, emitted once when its
   * later member arrives), and `clusters/` (the standing cluster
   * assignment — one snapshot per ingested batch; the newest
   * committed snapshot IS the current assignment).
   *
   * Per ingest: the [[nearDupStream]] kernel probes the persisted
   * sketch (corpus never re-shingled) and finds batch-internal pairs;
   * then `Dedup.clustersIncremental` folds ONLY the new pairs into
   * the previous snapshot (labels replay as star edges — node-sized
   * + batch-sized work, never the pair history). All four directories
   * ride the `batch=<id>` overwrite protocol: re-running a committed
   * batch id is a no-op, a crash at any point replays from exactly
   * the pre-batch state, and partial writes are dropped before any
   * read. Batch ids must be supplied monotonically by the caller
   * (the job config's `ingestBatchId`) — the fresh-ingest contract;
   * the monotonicity is also what makes STALE retries safe after a
   * compaction folded their partitions away: a batch id strictly
   * below any committed id must have been ingested already (its
   * marker either still exists or was compacted into a later
   * partition), so it skips whole even though its own marker is
   * gone — re-running it against the compacted state would
   * double-ingest its docs.
   */
  def ingestDedupBatch(spark: SparkSession, batch: DataFrame, destDir: String,
                       batchId: Long, idCol: String = "doc_id",
                       textCol: String = "text",
                       shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                       num: Int = 7, den: Int = 10): Unit = {
    val docsDir = s"$destDir/docs"
    val sketchDir = s"$destDir/sketch"
    val pairsDir = s"$destDir/pairs"
    val clustersDir = s"$destDir/clusters"
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = Seq(pairsDir, docsDir, sketchDir, clustersDir)
    dropPartialBatchDirs(conf, dirs)
    if (ingestSkip(conf, dirs, batchId, strictDirs = dirs) == RunKernel) {
      writeNearDupBatch(spark, conf,
        batch.select(col(idCol).as("doc_id"), col(textCol).as("text")),
        batchId, pairsDir, docsDir, sketchDir, shingleN, k, bands, num, den)
      // fold THIS batch's committed pairs into the standing assignment
      val newPairs = spark.read.parquet(batchPart(pairsDir, batchId))
        .select("doc_a", "doc_b")
      val labels = latestCommittedBatchBefore(conf, clustersDir, batchId) match {
        case Some(prev) => spark.read.parquet(clustersDir)
          .filter(col("batch") === prev).drop("batch")
        case None => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("node", LongType),
            StructField("cluster_id", LongType))))
      }
      graft.operators.Dedup.clustersIncremental(labels, newPairs)
        .write.mode("overwrite").parquet(batchPart(clustersDir, batchId))
    }
  }

  /**
   * ONE exactly-once SPAN-GRAIN INGEST — [[ingestDedupBatch]]'s
   * substring-level sibling and the `INGEST_SPAN_DESTINATION` job
   * step's kernel: probe a fresh document batch's positional k-grams
   * against the accumulated gram-summary state and emit the batch's
   * covered duplicated spans, at either grain (`word` —
   * `Dedup.dupSpansIncremental`; `char` —
   * `Dedup.dupSpansCharsIncremental`, the CJK/no-space path). State
   * layout under `destDir`: `summary/` (one gram summary per batch,
   * union-compactable) and `spans/` (the emitted spans). Both ride
   * the `batch=<id>` overwrite protocol with the stale-retry skip —
   * same exactly-once contract as the dedup ingest.
   */
  def ingestSpanBatch(spark: SparkSession, batch: DataFrame, destDir: String,
                      batchId: Long, idCol: String = "doc_id",
                      textCol: String = "text", grain: String = "word",
                      k: Int = 3, minRun: Int = 5): Unit = {
    require(grain == "word" || grain == "char",
      s"span grain must be 'word' or 'char', got $grain")
    val summaryDir = s"$destDir/summary"
    val spansDir = s"$destDir/spans"
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = Seq(spansDir, summaryDir)
    dropPartialBatchDirs(conf, dirs)
    if (ingestSkip(conf, dirs, batchId, strictDirs = dirs) == RunKernel) {
      val b = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .localCheckpoint()
      val index =
        if (hasCommittedBatchBefore(conf, summaryDir, batchId))
          stateBefore(spark, summaryDir, batchId)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("gram", StringType),
            StructField("lo_doc", LongType), StructField("hi_doc", LongType))))
      val spans =
        if (grain == "word")
          graft.operators.Dedup.dupSpansIncremental(index, b, "doc_id", "text", k, minRun)
        else
          graft.operators.Dedup.dupSpansCharsIncremental(index, b, "doc_id", "text", k, minRun)
      spans.write.mode("overwrite").parquet(batchPart(spansDir, batchId))
      val summary =
        if (grain == "word")
          graft.operators.Dedup.gramSpanSummary(b, "doc_id", "text", k)
        else
          graft.operators.Dedup.charGramSpanSummary(b, "doc_id", "text", k)
      summary.write.mode("overwrite").parquet(batchPart(summaryDir, batchId))
      graft.operators.Checkpoints.free(b)
    }
  }

  /** The number of token buckets every BM25 ingest state uses —
    * fixed so appends, compaction, and serving always agree on the
    * bucket of a token ([[ingestBm25Batch]] / `bm25IngestTopK`). */
  val Bm25IngestBuckets = 64

  /**
   * ONE exactly-once BM25-INDEX INGEST — [[ingestDedupBatch]]'s
   * retrieval-index sibling and the `INGEST_BM25_DESTINATION` job
   * step's kernel (VERDICT r17 #1: `bm25AppendBatch`'s two
   * non-atomic commits finally get the batch protocol their scaladoc
   * pointed at). State layout under `destDir`:
   *
   *  - `postings/batch=<id>/bucket=<b>/` — the batch's OWN raw-dl
   *    postings ((token, doc_id, tf, dl) — `bm25RawPostings`' append-
   *    invariant shape: the length norm moves to query time so no
   *    existing posting ever needs rewriting), hive-partitioned by
   *    `bucket = pmod(hash(token), 64)` so a query's terms
   *    partition-prune to k of 64 buckets inside every batch
   *    partition — the path-layout twin of the warehouse index's
   *    bucketBy pruning.
   *  - `stats/batch=<id>/` — the batch's (d, l) DELTA, one row. The
   *    current corpus stats are the SUM over committed deltas (a
   *    per-batch-row fold, metadata-sized), so there is no
   *    read-modify-write and no global overwrite to crash through —
   *    the non-atomicity `bm25AppendBatch` documents simply has no
   *    surface here.
   *
   * Both directories ride the `batch=<id>` overwrite protocol:
   * marker-less partials drop before any read, a batch with BOTH
   * `_SUCCESS` markers skips whole, a stale id (strictly below a
   * committed id — its partitions may have been union-compacted
   * away) skips whole, and a crash between the two writes replays
   * deterministically from the batch input alone (the kernel reads
   * NO prior state — per-batch cost is the batch's own tokenization,
   * never a corpus rescan). Compaction: union folds for both dirs
   * (`compactBatchState` with `partitionCols = Seq("bucket")` for
   * postings, preserving the pruning layout).
   */
  def ingestBm25Batch(spark: SparkSession, batch: DataFrame, destDir: String,
                      batchId: Long, idCol: String = "doc_id",
                      textCol: String = "text"): Unit = {
    val postingsDir = s"$destDir/postings"
    val statsDir = s"$destDir/stats"
    val conf = spark.sparkContext.hadoopConfiguration
    val dirs = Seq(postingsDir, statsDir)
    dropPartialBatchDirs(conf, dirs)
    if (ingestSkip(conf, dirs, batchId, strictDirs = dirs) == RunKernel) {
      val b = batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .localCheckpoint() // both writes tokenize it
      graft.TextQueries.bm25RawPostings(b)
        .withColumn("bucket", pmod(hash(col("token")), lit(Bm25IngestBuckets)))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(batchPart(postingsDir, batchId))
      graft.TextQueries.bm25StatsOf(b)
        .write.mode("overwrite").parquet(batchPart(statsDir, batchId))
      graft.operators.Checkpoints.free(b)
    }
  }

  /** Repair-then-read of a `batch=<id>` protocol state directory —
    * the public serving-side read ([[ingestBm25Batch]]'s scorer, or
    * any out-of-band consumer): drop marker-less partials / resolve
    * a crashed compaction, then read every committed partition with
    * the bookkeeping `batch` column dropped. Callers filter on any
    * OTHER partition column (e.g. `bucket`) for pruned reads. */
  def batchStateRead(spark: SparkSession, dir: String): DataFrame = {
    dropPartialBatchDirs(spark.sparkContext.hadoopConfiguration, Seq(dir))
    spark.read.parquet(dir).drop("batch")
  }

  /** The newest committed batch id of a protocol state dir (after
    * partial/compaction repair), or None — the public era probe
    * ([[annIngestTopK]] locates the serving centroid snapshot with
    * it). Metadata-sized. */
  def latestCommittedBatch(spark: SparkSession, dir: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dropPartialBatchDirs(conf, Seq(dir))
    committedBatchIds(conf, dir).lastOption
  }

  /**
   * ONE exactly-once ANN-INDEX INGEST — the IVF index maintained from
   * the config surface (`INGEST_ANN_DESTINATION`), with the
   * append/rebuild split the drift decider drives (VERDICT r17 #4:
   * `embed_centroid_drift` is the documented rebuild trigger —
   * Similarity.ivfAppend's scaladoc — and [[graft.job.JobRunner.runDecided]]
   * composes VALIDATE_DRIFT into exactly that branch). State under
   * `destDir`, all on the `batch=<id>` protocol:
   *
   *  - `vectors/batch=<id>` — the accumulated corpus ((vec_id, e)),
   *    one partition per ingested batch; union-compactable. The
   *    rebuild's input.
   *  - `centroids/batch=<id>` — ONE snapshot per REBUILD (nLists
   *    rows). The serving ERA is the newest id whose centroids AND
   *    postings BOTH committed ([[annValidEra]]).
   *  - `postings/batch=<id>` — cell assignments. A REBUILD batch
   *    writes the FULL corpus reassignment under its own id; an
   *    APPEND batch writes just its batch's map-side assignment
   *    against the era's centroids (`assignToCentroids` — batch-sized,
   *    no shuffle). Serving reads partitions with id >= era, so a
   *    rebuild retires the old era's postings WITHOUT deleting
   *    anything (purely additive; old-era partitions are dead weight
   *    reclaimable out-of-band).
   *
   * Rebuild WRITE ORDER is load-bearing (self-review r18): vectors,
   * then centroids, then postings LAST — committing the postings is
   * what opens the new era. A rebuild that crashes mid-protocol can
   * therefore only leave a DANGLING centroids snapshot, which the
   * era rule ignores (serving stays consistently on the old era —
   * had the postings landed first, a crash-window read would have
   * taken the old era's centroids against the NEW full reassignment:
   * every vector twice, under foreign cell ids). `mode = "append"`
   * REFUSES while a dangling rebuild is pending — its assignment
   * would be minted against centroids about to be superseded by the
   * retry's era.
   *
   * `mode = "rebuild"` (the first batch must be one): corpus =
   * accumulated vectors + this batch; deterministic `ivfIndex` =>
   * new centroid snapshot + full reassignment. `mode = "append"`:
   * batch assigns to the EXISTING era centroids — cost tracks the
   * batch, never the corpus. Exactly-once: a committed id skips
   * (mode-appropriate marker set), a stale id skips, an append
   * submitted while an earlier id sits half-committed (a dangling
   * rebuild OR an abandoned crashed append) is REFUSED loudly at
   * submission, marker-less partials drop, and both modes recompute
   * deterministically from committed state on replay (a rebuild is
   * the recovery path — its full reassignment covers every committed
   * vector, so it is never refused).
   */
  /** The precision-ladder rung projection a maintained ANN state can
    * carry beside `vectors/` (the "one ingest maintains every rung"
    * form of the serving tier): each rung is a PER-ROW-DETERMINISTIC
    * map-side projection — batch-sized to append, and the union over
    * committed batches equals the one-shot projection of the whole
    * corpus by construction. Names: `bits` (packed sign words),
    * `sq8` (int8 quantization), `prefix<d>` (first d dims),
    * `sig<n>` (n-bit hyperplane signature). */
  private def annRungProjection(b: DataFrame, rung: String): DataFrame = rung match {
    case "bits" => graft.operators.Similarity.signBitsTable(b, "vec_id", "e")
    case "sq8"  => graft.operators.Similarity.sq8Table(b, "vec_id", "e")
    case r if r.startsWith("prefix") && r.length > 6 =>
      graft.operators.Similarity.prefixTable(b, "vec_id", "e", r.stripPrefix("prefix").toInt)
    case r if r.startsWith("sig") && r.length > 3 =>
      graft.operators.Similarity.signatureTable(b, "vec_id", "e", 64, r.stripPrefix("sig").toInt)
    case other => throw new IllegalArgumentException(
      s"unknown ANN rung '$other' — expected bits | sq8 | prefix<d> | sig<n>")
  }

  def ingestAnnBatch(spark: SparkSession, batch: DataFrame, destDir: String,
                     batchId: Long, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     nLists: Int = 16, mode: String = "append",
                     rungs: Seq[String] = Nil): Unit = {
    require(mode == "append" || mode == "rebuild",
      s"annMode must be 'append' or 'rebuild', got $mode")
    require(!rungs.exists(r => Set("vectors", "postings", "centroids")(r)),
      s"rung names collide with the protocol dirs: $rungs")
    val vectorsDir = s"$destDir/vectors"
    val postingsDir = s"$destDir/postings"
    val centroidsDir = s"$destDir/centroids"
    // rung dirs ride the SAME batch protocol: written by EVERY batch
    // (both modes — the projections are era-independent pure row
    // functions), between vectors and the postings commit, so a
    // mid-crash retry re-lands them and the committed-skip test
    // covers them. The rung SET is part of the state's schema: keep
    // it stable per destDir (adding a rung later needs a one-off
    // backfill of the prior corpus, exactly like adding a column).
    val rungDirs = rungs.map(r => s"$destDir/$r")
    val conf = spark.sparkContext.hadoopConfiguration
    dropPartialBatchDirs(conf, Seq(vectorsDir, postingsDir, centroidsDir) ++ rungDirs)
    val dirs = (if (mode == "rebuild") Seq(vectorsDir) ++ rungDirs ++ Seq(centroidsDir, postingsDir)
                else Seq(vectorsDir) ++ rungDirs ++ Seq(postingsDir))
    // strictDirs = Nil: the ANN step does its OWN submission guards
    // below with mode-aware, specific messages — and a REBUILD is the
    // documented recovery that heals any half-committed history (its
    // full reassignment covers every committed vector), so it must
    // never be refused by the generic guard
    if (ingestSkip(conf, dirs, batchId, strictDirs = Nil) != RunKernel) return
    // append-mode preconditions BEFORE any write — a REFUSED append
    // must leave no partial state behind (its vectors partition would
    // trip the replay-order check on the pending rebuild's retry)
    val appendEra: Option[Long] =
      if (mode == "append") {
        val era = annValidEra(conf, destDir).filter(_ < batchId)
          .getOrElse(throw new IllegalStateException(
            s"INGEST_ANN append needs a built index — run a rebuild batch into $destDir first"))
        val dangling = committedBatchIds(conf, centroidsDir)
          .filter(i => i > era && i < batchId)
        if (dangling.nonEmpty)
          throw new IllegalStateException(
            s"INGEST_ANN append refused: rebuild batch=${dangling.last} is mid-crash " +
              s"(centroids committed, postings missing) — retry the rebuild before " +
              s"appending, or this batch's cells would be minted against centroids " +
              s"the retry is about to supersede")
        // a crashed APPEND abandoned mid-protocol (vectors committed,
        // postings missing, no centroids — distinct from the dangling
        // rebuild above) must refuse the NEXT id too (ADVICE r18):
        // its rows would silently drop from serving until the next
        // rebuild. Ids <= era are exempt — vector compaction relabels
        // folds below the newest id and the era's reassignment covers
        // all pre-era history, so only post-era ids must pair up.
        val postIds = committedBatchIds(conf, postingsDir).toSet
        val crashedAppend = committedBatchIds(conf, vectorsDir)
          .filter(i => i > era && i < batchId)
          .filterNot(postIds)
        if (crashedAppend.nonEmpty)
          throw new IllegalStateException(
            s"INGEST_ANN append refused: append batch=${crashedAppend.max} crashed " +
              s"mid-protocol (vectors committed, postings missing) and was abandoned — " +
              s"retry it to completion before submitting batch=$batchId, or its rows " +
              s"would silently drop from serving until the next rebuild")
        Some(era)
      } else None
    val b = batch.select(col(idCol).as("vec_id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("e"))
      .localCheckpoint()
    b.write.mode("overwrite").parquet(batchPart(vectorsDir, batchId))
    // rung projections: batch-sized map-side writes, BEFORE the
    // postings commit (postings last still opens the era; a crash
    // anywhere in here leaves postings missing, so the next append is
    // refused and the in-order retry overwrites everything)
    rungs.foreach { r =>
      annRungProjection(b, r).write.mode("overwrite")
        .parquet(batchPart(s"$destDir/$r", batchId))
    }
    if (mode == "rebuild") {
      val corpus =
        if (hasCommittedBatchBefore(conf, vectorsDir, batchId))
          stateBefore(spark, vectorsDir, batchId).unionByName(b)
        else b
      val (assigned, centroids) =
        graft.operators.Similarity.ivfIndex(corpus, "vec_id", "e", nLists)
      // centroids BEFORE postings — the postings commit opens the era
      centroids.write.mode("overwrite").parquet(batchPart(centroidsDir, batchId))
      assigned.select("cell", "vec_id", "e")
        .write.mode("overwrite").parquet(batchPart(postingsDir, batchId))
    } else {
      val cents = spark.read.parquet(centroidsDir)
        .filter(col("batch") === appendEra.get).drop("batch")
      graft.operators.Similarity.assignToCentroids(b, cents, "e")
        .select("cell", "vec_id", "e")
        .write.mode("overwrite").parquet(batchPart(postingsDir, batchId))
    }
    graft.operators.Checkpoints.free(b)
  }

  /**
   * ERA-AWARE compaction + vacuum for an [[ingestAnnBatch]] state
   * (VERDICT r18 missing #2 — the one ingest destination without an
   * `ingestCompact` path: vectors/ and postings/ grew one partition
   * per batch forever and a rebuild's retired-era postings stayed as
   * acknowledged dead weight). Three moves, each chosen by what the
   * directory MEANS:
   *
   *  - `postings/` + `centroids/`: VACUUM retired eras — delete every
   *    committed `batch=<i>` with i < era. Pure deletes (the
   *    `latest`-mode discipline): serving reads `batch >= era`, so a
   *    sub-era partition is never opened — dead weight by
   *    construction once the era's full reassignment covers all
   *    pre-era history. Idempotent and trivially crash-safe (a
   *    surviving partition is re-deleted next run; the era rule needs
   *    only the era's OWN pair, which is never touched).
   *  - `vectors/`: the standard protocol-preserving union fold
   *    ([[compactBatchState]] — newest spared, stage-then-swap).
   *  - `postings/` is NEVER union-folded, and this operator exists so
   *    nobody reaches for the generic fold there: the fold relabels
   *    every id strictly below the newest as `batch=<second-newest>`,
   *    which for retired sub-era rows is an id that can sit AT or
   *    ABOVE the serving era — the era-pruned read would resurrect
   *    retired-era duplicates into serving (every vector twice, under
   *    two cell assignments); and post-era ids must keep their exact
   *    ids because the era rule derives from matching
   *    centroids/postings ids. Deletes are the only safe maintenance.
   *
   * Steady state after vacuum + a later rebuild + vacuum: one
   * centroids snapshot, one-plus-appends postings partitions (reset
   * to one by each rebuild), vectors bounded by `minParts` — the
   * listing cost of a 24/7 maintained index stays flat instead of
   * accruing one directory per batch forever. Returns
   * (retired partitions deleted, vector partitions folded away).
   * Run between batches, never concurrently with a writer.
   */
  def annIngestCompact(spark: SparkSession, destDir: String,
                       minParts: Int = 8): (Long, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val vectorsDir = s"$destDir/vectors"
    val postingsDir = s"$destDir/postings"
    val centroidsDir = s"$destDir/centroids"
    dropPartialBatchDirs(conf, Seq(vectorsDir, postingsDir, centroidsDir))
    annValidEra(conf, destDir) match {
      case None => (0L, 0L) // nothing committed yet — nothing to retire
      case Some(era) =>
        var retired = 0L
        Seq(postingsDir, centroidsDir).foreach { d =>
          val fs = fsOf(conf, d)
          committedBatchIds(conf, d).filter(_ < era).foreach { i =>
            fs.delete(new org.apache.hadoop.fs.Path(batchPart(d, i)), true)
            retired += 1
          }
        }
        // vectors AND every maintained rung projection (discovered —
        // any sibling dir that isn't postings/centroids) take the
        // standard protocol-preserving union fold: rung rows are
        // era-independent per-row projections, so relabeling under
        // the fold target changes nothing a union reader sees
        val fsRoot = fsOf(conf, destDir)
        val rootP = new org.apache.hadoop.fs.Path(destDir)
        val unionDirs =
          if (!fsRoot.exists(rootP)) Seq(vectorsDir)
          else fsRoot.listStatus(rootP).toSeq
            .filter(_.isDirectory).map(_.getPath.getName)
            .filterNot(n => n == "postings" || n == "centroids" || n.startsWith("_"))
            .map(n => s"$destDir/$n")
        val folded = unionDirs.map(d =>
          compactBatchState(spark, d, "union", minParts)).sum
        (retired, folded)
    }
  }

  /** The newest VALID rebuild era of an [[ingestAnnBatch]] state: an
    * id whose centroids AND postings both committed. A dangling
    * centroids-only id (a rebuild that crashed before its postings —
    * the only mid-crash shape the write order allows) is never the
    * era: its reassignment never landed, so serving it would pair
    * old postings with foreign centroids. */
  private def annValidEra(conf: org.apache.hadoop.conf.Configuration,
                          destDir: String): Option[Long] = {
    val withPostings = committedBatchIds(conf, s"$destDir/postings").toSet
    committedBatchIds(conf, s"$destDir/centroids").filter(withPostings).lastOption
  }

  /** Batch IVF serving FROM an [[ingestAnnBatch]] state dir: the era
    * = the newest VALID rebuild ([[annValidEra]] — centroids AND
    * postings committed, so a mid-crash rebuild's dangling centroids
    * never serve); postings partition-prune to `batch >= era` (the
    * era's full reassignment plus every later append — old-era
    * partitions are never opened, and under the rebuild write order
    * no partition above the era can be a crashed rebuild's), and the
    * query is one `ivfBatchTopK` through that index. */
  def annIngestTopK(spark: SparkSession, destDir: String, probes: DataFrame,
                    k: Int, nProbe: Int = 4): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    dropPartialBatchDirs(conf, Seq(s"$destDir/centroids", s"$destDir/postings"))
    val era = annValidEra(conf, destDir).getOrElse(
      throw new IllegalStateException(s"no committed ANN index under $destDir"))
    val cents = spark.read.parquet(s"$destDir/centroids")
      .filter(col("batch") === era).drop("batch")
    val pruned = spark.read.parquet(s"$destDir/postings")
      .filter(col("batch") >= era).drop("batch")
    graft.operators.Similarity.ivfBatchTopK(pruned, cents, probes, "e", k, nProbe)
  }

  /**
   * STREAMING duplicated-span extraction — [[nearDupStream]]'s
   * substring-level sibling: the persisted state is the gram-summary
   * table ([[graft.operators.Dedup.gramSpanSummary]] rows, gram-
   * vocabulary-sized — per-batch summaries APPEND without merging
   * because the probe's duplicate test only needs gram EXISTENCE
   * plus batch-internal min!=max), and each micro-batch emits ITS
   * OWN covered spans against everything seen so far
   * (`Dedup.dupSpansIncremental`; the first batch probes an absent
   * index, which degenerates to the batch-internal test — exactly
   * `duplicatedSpans` over that batch). Emission semantics stated
   * honestly: a batch's spans reflect the corpus AT ARRIVAL TIME —
   * an EARLIER doc's position that becomes boilerplate only when a
   * later copy arrives is the full-rebuild pass's job
   * (`text_dup_spans`), not the ingest monitor's; the gate's oracle
   * states the asymmetric visibility rule verbatim.
   *
   * Exactly-once state on at-least-once delivery: the same
   * `batch=<batchId>` overwrite-partition protocol as
   * [[nearDupStream]] — committed batches are skipped whole,
   * marker-less partials are dropped before any read, the probe's
   * index view is partition-pruned to `batch < batchId`, and span
   * output is written partition-parallel (no single-writer funnel).
   * A gram recurring across many committed batches holds one summary
   * row per batch; `dupSpansIncremental` collapses the index per
   * gram before probing, so the multiplicity is harmless.
   */
  def dupSpanStream(spark: SparkSession, stream: DataFrame,
                    outDir: String, stateDir: String, checkpoint: String,
                    k: Int = 3, minTokens: Int = 5): DataFrame = {
    runExactlyOnce(spark, stream, checkpoint, outDir, Seq(stateDir)) { (batch, batchId) =>
      val s = batch.sparkSession
      val b = batch.select("doc_id", "text").localCheckpoint()
      try {
        val index =
          if (hasCommittedBatchBefore(s.sparkContext.hadoopConfiguration, stateDir, batchId))
            stateBefore(s, stateDir, batchId)
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("gram", StringType),
              StructField("lo_doc", LongType), StructField("hi_doc", LongType))))
        graft.operators.Dedup
          .dupSpansIncremental(index, b, "doc_id", "text", k, minTokens)
          .write.mode("overwrite").parquet(batchPart(outDir, batchId))
        graft.operators.Dedup.gramSpanSummary(b, "doc_id", "text", k)
          .write.mode("overwrite").parquet(batchPart(stateDir, batchId))
      } finally graft.operators.Checkpoints.free(b)
    }
  }

  /**
   * STREAMING TOKENIZER-FERTILITY MONITOR — the
   * `text_bpe_fertility_drift` retrain trigger as a STANDING monitor
   * instead of a batch report: the merge table is FIXED at stream
   * start (the tokenizer actually deployed, trained on the reference
   * era) and `refCptPm` is that era's booked chars-per-token; each
   * arriving micro-batch encodes its own words under the fixed
   * merges — vocab-collapsed, each distinct batch word encodes once —
   * and emits one (batch_id, n_words, n_tokens, cpt_permille,
   * drift_pm) row. A feed whose fertility collapses (a new domain or
   * language the old merges under-serve) shows up as drift_pm rising
   * batch over batch — the retrain signal, surfaced BEFORE a training
   * run eats the token budget. Integer-exact throughout (the batch
   * gate's permille formula), so the monitor rows replay bit-exactly
   * in the oracle's recursive BPE encode.
   *
   * Per batch: one batch-sized word groupBy + the codegen'd framed
   * encode over the batch VOCABULARY + a one-row report — nothing
   * grows with stream history. Report rows ride the `batch=<id>`
   * overwrite protocol (a crash-replayed batch replaces its own row,
   * never duplicates it).
   */
  def fertilityDriftStream(spark: SparkSession, stream: DataFrame,
                           merges: Seq[String], refCptPm: Long,
                           outDir: String, checkpoint: String): DataFrame =
    runExactlyOnce(spark, stream, checkpoint, outDir) { (batch, batchId) =>
      batch.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .select(col("w"), col("c"), graft.functions.Bpe.nTokens(
          graft.functions.Bpe.encodeFramed(col("w"), merges)).as("n_tok"))
        .agg(sum("c").as("n_words"),
          sum(col("c") * length(col("w")).cast("long")).as("_chars"),
          sum(col("c") * col("n_tok")).as("n_tokens"))
        .select(lit(batchId).as("batch_id"), col("n_words"), col("n_tokens"),
          expr("(1000 * _chars) div n_tokens").as("cpt_permille"))
        .withColumn("drift_pm", abs(col("cpt_permille") - lit(refCptPm)))
        // an EMPTY batch (or one with only sub-2-char words) must
        // write an empty partition, not one all-NULL phantom row —
        // the global agg still emits a row over zero input
        .filter(col("n_tokens").isNotNull)
        .write.mode("overwrite").parquet(batchPart(outDir, batchId))
    }

  /**
   * STREAMING FEED-FRESHNESS MONITOR: per micro-batch, each stream's
   * max event time and its lag in whole minutes behind the batch's
   * freshest stream — the continuously-updated twin of the batch
   * events_freshness_sla report (a stuck upstream shows up as one
   * type's lag growing batch over batch). Stateless: one
   * map-side-combinable max per (batch, type), one one-row broadcast
   * of the batch max; one monitor row per stream per batch lands in
   * the sink on the `batch=<id>` overwrite protocol (a crash-replayed
   * batch replaces its own rows instead of duplicating them).
   */
  def freshnessStream(spark: SparkSession, stream: DataFrame,
                      outDir: String, checkpoint: String): DataFrame =
    runExactlyOnce(spark, stream, checkpoint, outDir) { (batch, batchId) =>
      val perType = batch.groupBy("event_type")
        .agg(max(unix_micros(col("ts"))).as("last_us"))
      perType.crossJoin(broadcast(perType.agg(max("last_us").as("g_us"))))
        .select(lit(batchId).as("batch_id"), col("event_type"),
          expr("(g_us - last_us) div 60000000").as("lag_minutes"))
        .write.mode("overwrite").parquet(batchPart(outDir, batchId))
    }

  final case class GapRow(event_type: String, gap_hour_us: Long)

  /**
   * STREAMING GAP DETECTION (zero-fill): one row per SILENT hour of
   * each event stream — an hour strictly between two observed hours
   * with no events — emitted as batches arrive. The monitoring
   * primitive behind "feed X went dark 02:00-05:00": an append-mode
   * aggregate can never say this (absence has no row to aggregate),
   * so it takes per-key state — the last hour seen, ONE long per
   * stream — carried across micro-batches by flatMapGroupsWithState;
   * a gap spanning a batch boundary is detected when the next batch's
   * first hour arrives. Each batch's group reduces to its DISTINCT
   * hour indices before the in-memory sort (bounded by the calendar
   * span of one batch, never its event count). Feed contract:
   * time-split batches (the debounce contract), which is how the
   * gate stages it.
   */
  def gapFillStream(events: DataFrame)
                   (implicit spark: SparkSession): Dataset[GapRow] = {
    import spark.implicits._
    events.select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hidx"))
      .filter(col("event_type").isNotNull)
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, GapRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (etype, rows, state: GroupState[Long]) =>
          val hours = rows.map(_._2).toSet.toSeq.sorted
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = Seq.newBuilder[GapRow]
          hours.foreach { h =>
            if (last != Long.MinValue && h > last + 1)
              ((last + 1) until h).foreach(g =>
                out += GapRow(etype, g * 3600000000L))
            if (h > last) last = h
          }
          if (last != Long.MinValue) state.update(last)
          out.result().iterator
      }
  }

  final case class ThrottledEvent(event_id: Long, user_id: Long, win: Long)

  /**
   * Streaming per-key RATE THROTTLE: admit at most `perWindow` events
   * per user per event-time window of `windowUs` micros — the
   * ingestion-admission operator (abuse control, fairness caps, API
   * quotas) that an append sink cannot express because admission
   * depends on how many of the key's events ALREADY passed this
   * window. State is two longs per live key (current window index,
   * count within it) carried across micro-batches by
   * flatMapGroupsWithState; rows sort by (ts, event_id) inside each
   * batch's group, and the feed contract is time-split batches (the
   * debounce contract) so cross-batch order is well-defined and the
   * admitted set equals the batch row_number()-per-(user, window)
   * rewrite the oracle states.
   */
  def throttleStream(events: DataFrame, perWindow: Int,
                     windowUs: Long = 3600000000L)
                    (implicit spark: SparkSession): Dataset[ThrottledEvent] = {
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .filter(col("user_id").isNotNull)
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), ThrottledEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[(Long, Long)]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var (h, c) = state.getOption.getOrElse((Long.MinValue, 0L))
          val out = Seq.newBuilder[ThrottledEvent]
          sorted.foreach { r =>
            val win = Math.floorDiv(r._2, windowUs)
            if (win != h) { h = win; c = 0L }
            c += 1
            if (c <= perWindow) out += ThrottledEvent(r._3, uid, win)
          }
          if (h != Long.MinValue) state.update((h, c))
          out.result().iterator
      }
  }

  final case class AnomalyFlag(event_id: Long, event_type: String,
                               q: Long, n_prev: Long)

  /**
   * Streaming z-score anomaly detection with EXACT integer moments:
   * per event_type, carry (n, Σq, Σq²) across micro-batches
   * (q = round(value·1000)) and flag an event when its deviation
   * from the PRIOR-ONLY statistics exceeds 3σ:
   *   (q·n − S)² > 9·(n·Q − S²)   [cross-multiplied z² > 9 — no
   * division, no sqrt, so the decision is integer-exact and the
   * batch twin (cumulative window sums + the same HUGEINT
   * comparison) states it verbatim]. The comparison runs in BigInt —
   * (q·n)² overflows a long at corpus scale — while the STATE stays
   * three longs per event type. Σq² caps the per-type volume at
   * ~9e6 rows for |value| <= 1e3; the loud guard below marks where
   * production state graduates to DECIMAL columns.
   *
   * Prior-only semantics need (ts, event_id) replay order: each
   * batch's group is sorted, and the feed must be time-split across
   * batches (the gate stages it so). Key cardinality = |event
   * types| — per-type statistics are inherently that parallel; the
   * detector shape shards further only if the statistic itself is
   * sharded (e.g. per (type, user)).
   */
  def anomalyStream(events: DataFrame, minN: Long = 30)
                   (implicit spark: SparkSession): Dataset[AnomalyFlag] = {
    import spark.implicits._
    events.select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), round(col("value") * 1000).cast("long").as("q"))
      .filter(col("event_type").isNotNull && col("q").isNotNull)
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), AnomalyFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (etype, rows, state: GroupState[(Long, Long, Long)]) =>
          var (n, s, qq) = state.getOption.getOrElse((0L, 0L, 0L))
          val out = Seq.newBuilder[AnomalyFlag]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
            val q = r._4
            if (n >= minN) {
              val d = BigInt(q) * n - s
              val v = BigInt(n) * qq - BigInt(s) * s
              if (d * d > v * 9) out += AnomalyFlag(r._3, etype, q, n)
            }
            n += 1; s += q
            // guard BEFORE squaring: for |q| > floor(sqrt(Long.Max))
            // the square itself wraps, so a post-hoc check could pass
            // on corrupted state. Explicit range (not math.abs): the
            // abs of Long.MinValue is NEGATIVE, so a saturating
            // double->long extreme would slip through an abs guard
            // and q*q would wrap to 0, corrupting state silently.
            require(q > -3037000500L && q < 3037000500L,
              s"$etype: |value| too large to square in long state — carry (Σq, Σq²) as DECIMAL at this volume")
            require(qq <= Long.MaxValue - q * q,
              s"$etype: sumsq would overflow long state — carry (Σq, Σq²) as DECIMAL at this volume")
            qq += q * q
          }
          state.update((n, s, qq))
          out.result().iterator
      }
  }

  final case class SessionSummary(user_id: Long, session_start_us: Long,
                                  session_end_us: Long, n_events: Long)

  /**
   * Session-timeout summaries via EVENT-TIME TIMERS — the
   * transformWithState facility none of the other stateful gates
   * exercise: a session closes EITHER when a later event of the same
   * user arrives past the gap (emitted inline from handleInputRows)
   * OR when the WATERMARK passes `last + gap` with no successor — the
   * registered timer fires in `handleExpiredTimer` and emits the
   * summary no arriving row ever would. State is one (start, last, n)
   * tuple per user plus at most one live timer (stale timers are
   * deleted on every input); the session rule (same session iff
   * gap NOT reached, `diff < gap`) matches the batch islands rewrite
   * exactly.
   *
   * Replay-order assumption (same as [[anomalyStream]]): rows are
   * sorted within a batch, but `session_start` never moves backwards
   * across batches — micro-batches must replay in event-time order
   * (a time-split feed, as the gate uses) for session boundaries to
   * equal the batch oracle. An out-of-order feed would need the
   * session start revisited (min-merged) on every arrival.
   */
  class SessionTimeoutProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), SessionSummary] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TTLConfig, TimerValues, ValueState}
    @transient private var sess: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
                                 tv: TimerValues): Iterator[SessionSummary] = {
      val out = Seq.newBuilder[SessionSummary]
      var cur = if (sess.exists()) Option(sess.get()) else None
      rows.toSeq.map(_._2).sorted.foreach { us =>
        cur match {
          case Some((st, last, n)) if us - last < gapUs =>
            cur = Some((st, math.max(last, us), n + 1))
          case Some((st, last, n)) =>
            out += SessionSummary(user, st, last, n)
            cur = Some((us, us, 1L))
          case None =>
            cur = Some((us, us, 1L))
        }
      }
      cur.foreach { case (st, last, n) =>
        sess.update((st, last, n))
        // one live timer per key: drop whatever an earlier batch set
        getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
        getHandle.registerTimer((last + gapUs) / 1000L)
      }
      out.result().iterator
    }
    override def handleExpiredTimer(user: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[SessionSummary] = {
      // stale timers are deleted on every input, so a firing timer
      // always refers to the CURRENT open session
      if (sess.exists()) {
        val (st, last, n) = sess.get()
        sess.clear()
        Iterator.single(SessionSummary(user, st, last, n))
      } else Iterator.empty
    }
  }

  /** Session-timeout stream over events: see [[SessionTimeoutProcessor]].
    * Requires the RocksDB state store provider (transformWithState's
    * only supported provider). */
  def sessionTimeoutStream(events: DataFrame, gapUs: Long,
                           watermarkDelay: String = "2 hours")
                          (implicit spark: SparkSession): Dataset[SessionSummary] = {
    import spark.implicits._
    events.withWatermark("ts", watermarkDelay)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .filter(col("user_id").isNotNull)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimeoutProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append())
  }

  final case class TypeCount(user_id: Long, event_type: String, n: Long)

  /**
   * Per-user per-type running counts in a typed MAP STATE — the
   * transformWithState MapState facility (keyed sub-state with
   * per-entry point reads/writes, vs ValueState's whole-blob
   * update): each batch increments only the types it saw and emits
   * the user's updated entries (Update-mode snapshot). At 100 TB the
   * point is that a user with a wide type map pays per-ENTRY RocksDB
   * access for the entries a batch touches, not a full
   * deserialize/serialize of the map.
   */
  class TypeCountsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, String), TypeCount] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues}
    @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, String)],
                                 tv: TimerValues): Iterator[TypeCount] = {
      val touched = scala.collection.mutable.LinkedHashSet[String]()
      rows.foreach { case (_, etype) =>
        val cur = if (counts.containsKey(etype)) counts.getValue(etype) else 0L
        counts.updateValue(etype, cur + 1L)
        touched += etype
      }
      touched.iterator.map(t => TypeCount(user, t, counts.getValue(t)))
    }
  }

  /** Running per-(user, type) counts over the events stream: see
    * [[TypeCountsProcessor]]. RocksDB provider required. */
  def typeCountsStream(events: DataFrame)
                      (implicit spark: SparkSession): Dataset[TypeCount] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"))
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeCountsProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class RecentPath(user_id: Long, path: String)

  /**
   * Per-user LAST-3 event types in a typed LIST STATE — the
   * transformWithState ListState facility (append-oriented ordered
   * sub-state): each batch merge-sorts its arrivals with recovered
   * state by (ts, event_id) and trims to the newest 3, emitting the
   * user's updated path. Completes the state-type surface next to the quota
   * ValueState and the type-count MapState; the bounded trim is what
   * keeps state O(k) per key however long the stream runs.
   *
   * ORDER-ROBUST across micro-batches: the state carries (us,
   * event_id, type) and each batch merge-sorts recovered state with
   * its arrivals before trimming — keeping the newest k by (us,
   * event_id) is a semilattice fold (top-k of per-batch top-ks =
   * top-k of the union, the [[topKStream]] argument), so the kept
   * path is exact for ANY batch split or replay order, unlike
   * [[anomalyStream]]/[[SessionTimeoutProcessor]] whose recursions
   * are inherently order-dependent. Pinned by the StreamingSpec
   * out-of-order replay test.
   */
  class RecentPathProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long, Long, String), RecentPath] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues}
    // STATE-SCHEMA BREAK (round 11): the list element type changed
    // String -> (Long, Long, String) to carry the (ts, event_id) sort
    // key. The handle is renamed "recent_v2" so a checkpoint written
    // by the String-state processor fails on the MISSING handle at
    // restore — an explicit break, not a silent mis-decode of old
    // state bytes. Operators must discard pre-break checkpoints.
    @transient private var recent: org.apache.spark.sql.streaming.ListState[(Long, Long, String)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      recent = getHandle.getListState[(Long, Long, String)]("recent_v2",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING),
        TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long, Long, String)],
                                 tv: TimerValues): Iterator[RecentPath] = {
      val merged = (recent.get().toSeq ++ rows.map(r => (r._2, r._3, r._4)))
        .sortBy(e => (e._1, e._2)).takeRight(3)
      recent.clear()
      merged.foreach(recent.appendValue)
      Iterator.single(RecentPath(user, merged.map(_._3).mkString(">")))
    }
  }

  /** Last-3 event-type path per user over the events stream: see
    * [[RecentPathProcessor]]. RocksDB provider required. */
  def recentPathStream(events: DataFrame)
                      (implicit spark: SparkSession): Dataset[RecentPath] = {
    import spark.implicits._
    events.select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new RecentPathProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class CusumPoint(event_id: Long, event_type: String,
                              cusum_plus: Long, drift: Boolean)

  /**
   * Streaming CUSUM drift — the train-batch/serve-stream split: the
   * per-type `targets` (integer means) are TRAINED on the batch
   * table and broadcast as a reference map; the stream carries the
   * sequential recursion S = max(0, S + (q − target)) as ONE long of
   * state per event type across micro-batches. The recursion is the
   * streaming-native form of the batch query's closed two-window
   * rewrite (events_cusum_drift) — identical outputs under
   * time-ordered replay, which is how the gate's oracle pins it.
   * Types absent from `targets` (never seen in training) pass
   * through untracked rather than drifting against a meaningless 0.
   */
  def cusumStream(events: DataFrame, targets: Map[String, Long],
                  threshold: Long = 50000L)
                 (implicit spark: SparkSession): Dataset[CusumPoint] = {
    import spark.implicits._
    events.select(col("event_type"), unix_micros(col("ts")).as("us"),
        col("event_id"), round(col("value") * 1000).cast("long").as("q"))
      .filter(col("event_type").isNotNull && col("q").isNotNull)
      .as[(String, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, CusumPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (etype, rows, state: GroupState[Long]) =>
          targets.get(etype) match {
            case None => Iterator.empty
            case Some(target) =>
              var cusum = state.getOption.getOrElse(0L)
              val out = Seq.newBuilder[CusumPoint]
              rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
                cusum = math.max(0L, cusum + (r._4 - target))
                out += CusumPoint(r._3, etype, cusum, cusum > threshold)
              }
              state.update(cusum)
              out.result().iterator
          }
      }
  }

  /** Alert emitted the first time a user's cumulative purchase total
    * crosses the threshold. */
  final case class QuotaAlert(user_id: Long, total_cents: Long, n_purchases: Long)

  /** Per-user cumulative spend in a `ValueState[(cents, n)]` — the
    * Spark 4 `transformWithState` arbitrary-state API (the successor
    * to `mapGroupsWithState`: typed state handles, TTL support,
    * timers). Alert-once semantics: a row is emitted only on the
    * batch where the running total first crosses the threshold — the
    * crossed-flag is implied by the previous total, so state stays one
    * tuple per user. Requires the RocksDB state store provider (the
    * only provider transformWithState supports), which is also the
    * 100 TB posture: state lives off-heap and spills, bounded per key
    * regardless of event volume. */
  class QuotaProcessor(thresholdCents: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, (Long, Long), QuotaAlert] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
    @transient private var agg: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      agg = getHandle.getValueState[(Long, Long)]("agg",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
                                 tv: TimerValues): Iterator[QuotaAlert] = {
      val (c0, n0) = if (agg.exists()) agg.get() else (0L, 0L)
      var c = c0; var n = n0
      rows.foreach { case (_, cents) => c += cents; n += 1 }
      agg.update((c, n))
      if (c0 < thresholdCents && c >= thresholdCents)
        Iterator.single(QuotaAlert(user, c, n))
      else Iterator.empty
    }
  }

  /** Purchase-quota gate over the events stream: see [[QuotaProcessor]]. */
  def quotaAlerts(events: DataFrame, thresholdCents: Long)
                 (implicit spark: SparkSession): Dataset[QuotaAlert] = {
    import spark.implicits._
    events.filter(col("event_type") === "purchase")
      .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      .filter(col("user_id").isNotNull && col("cents").isNotNull)
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new QuotaProcessor(thresholdCents),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  final case class UserTotal(user_id: Long, total: Long)

  /**
   * BOOTSTRAP-FROM-HISTORY: transformWithState's INITIAL-STATE
   * surface (`StatefulProcessorWithInitialState` + the
   * initial-state `transformWithState` overload) — the query's first
   * batch seeds every key's state from a BATCH dataset before any
   * stream row is processed. This is how a stateful job goes live
   * against years of history without replaying it through the
   * stream: the historical aggregate (here per-user event counts) is
   * computed once batch-side, handed over as the initial
   * KeyValueGroupedDataset, and the stream continues from there.
   * State stays one long per user; emissions are the running total
   * AFTER each batch, so totals are monotone per user.
   */
  class BootstrapCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[Long, Long, UserTotal, Long] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
    @transient private var n: ValueState[Long] = _
    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      n = getHandle.getValueState[Long]("n",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInitialState(user: Long, seed: Long,
                                    tv: TimerValues): Unit =
      n.update(seed)
    override def handleInputRows(user: Long, rows: Iterator[Long],
                                 tv: TimerValues): Iterator[UserTotal] = {
      val cur = if (n.exists()) n.get() else 0L
      val nv = cur + rows.size
      n.update(nv)
      Iterator.single(UserTotal(user, nv))
    }
  }

  /** Seeded running per-user counts: history (batch) initializes the
    * state, the stream increments it. See [[BootstrapCountProcessor]].
    * RocksDB provider required. */
  def bootstrapCountStream(stream: DataFrame, history: DataFrame)
                          (implicit spark: SparkSession): Dataset[UserTotal] = {
    import spark.implicits._
    val init = history
      .filter(col("user_id").isNotNull)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
    stream
      .filter(col("user_id").isNotNull)
      .select(col("user_id"))
      .as[Long]
      .groupByKey(identity)
      .transformWithState(new BootstrapCountProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update(), init)
  }

  /**
   * Streaming ingestion near-dup gate: arriving documents whose LSH
   * band keys collide with the STATIC corpus sketch
   * (`Dedup.signatureBandRows`, materialized next to the corpus) are
   * emitted as the quarantine stream — the candidates a downstream
   * exact-verify (batch `Dedup.incrementalNearDups`) confirms or
   * clears. Routing candidates OUT (rather than filtering clean docs
   * in-stream) is deliberate: stream-stream anti-joins aren't
   * expressible, and production pipelines quarantine-then-verify
   * anyway.
   *
   * Plan shape: band keys are a narrow compiled projection on the
   * stream side; the stream-static left-semi join needs no watermark;
   * `dropDuplicates(idCol)` collapses multi-band collisions (state is
   * one id per flagged doc — bounded by flagged volume; add a
   * watermark upstream to age it for unbounded runs).
   */
  def flagNearDupArrivals(docs: DataFrame, corpusSketch: DataFrame,
                          idCol: String = "doc_id", textCol: String = "text",
                          shingleN: Int = 3, k: Int = 128, bands: Int = 32): DataFrame =
    // the SAME sketch derivation as the corpus side — any drift in
    // shingling/banding policy would silently stop band keys colliding
    graft.operators.Dedup.signatureBandRows(docs, idCol, textCol, shingleN, k, bands)
      .join(corpusSketch.select("band", "band_key"), Seq("band", "band_key"), "left_semi")
      .dropDuplicates(idCol)
      .select(idCol)

  /**
   * Streaming decontamination gate: arriving documents sharing any
   * word n-gram with the STATIC eval/benchmark corpus are routed to
   * the quarantine stream. The Bloom filter is built ONCE from the
   * bounded eval side (batch — `evalBloomBytes`) and planted in the
   * stream as a stateless codegen probe ([[graft.functions.BloomGramHits]]):
   * per-row bit tests, no state store, no stream-static join at all —
   * the cheapest possible in-stream gate. The probe is a candidate
   * filter (Bloom false positives possible, negatives impossible), so
   * the quarantine stream is a small superset for downstream exact
   * verification, exactly like the batch `flagContaminatedBloom`.
   */
  def flagContaminatedArrivals(docs: DataFrame, bloomBytes: Array[Byte],
                               idCol: String = "doc_id", textCol: String = "text",
                               shingleN: Int = 4): DataFrame =
    docs.filter(graft.functions.BloomProbe.gramHits(
        graft.functions.Shingles.wordShingles(col(textCol), shingleN), bloomBytes) > 0)
      .select(idCol)

  /** One-pass filter bytes for [[flagContaminatedArrivals]] — run on
    * the BATCH eval corpus before starting the stream. */
  def evalBloomBytes(eval: DataFrame, textCol: String = "text",
                     shingleN: Int = 4, fpp: Double = 1e-3): Array[Byte] =
    graft.operators.Contamination.buildEvalBloom(eval, textCol, shingleN, fpp)

  /**
   * Continuous micro-batch load into a JDBC destination — the
   * reference's batch-loader identity extended to streams: each
   * micro-batch rides the same W1 batch-insert writer
   * ([[graft.sinks.Writers.write]] — `batchsize`, dialect DDL
   * override), appended per micro-batch. Semantics are at-least-once on
   * task/batch retry, matching every non-transactional sink here and
   * in the reference; idempotence belongs to the destination design
   * (a keyed MERGE target or dedup-on-read view). The caller's
   * `dest.saveMode` is intentionally overridden: "overwrite" per
   * micro-batch would keep only the LAST batch. Returns the query
   * started under `Trigger.AvailableNow`; the caller awaits it.
   */
  def jdbcLoadStream(stream: DataFrame,
                     dest: graft.model.DestinationConfig): StreamingQuery =
    startAvailableNow(stream.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sinks.Writers.write(batch, dest.copy(saveMode = "append"))
      })

  /** Bucket assignment of [[upsertStream]]'s destination layout —
    * exposed so out-of-band seeds/compactions of the same destination
    * align with the streaming writer's partitioning. */
  def upsertBucket(keys: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(nBuckets)).cast("int")

  /**
   * Streaming keyed upsert into a parquet destination — the streaming
   * twin of the MERGE_STRATEGY job step: every micro-batch is merged
   * into a key-hash-BUCKETED destination with
   * [[graft.operators.Upsert.keepLatest]] (highest version per key
   * wins), rewriting ONLY the bucket partitions the batch's keys hash
   * into. This is the continuously-maintained keyed table a CDC/event
   * feed converges into — the parquet mirror of
   * [[jdbcUpsertStream]]'s one-MERGE-per-batch discipline.
   *
   * Correctness across batches: with a version column UNIQUE per key,
   * max(version) per key is independent of how rows are split into
   * micro-batches AND of batch arrival order — so the final state
   * equals the batch keep-latest over the whole feed (what the gate
   * oracle states). Replays are idempotent for the same reason: the
   * at-least-once redelivery of a batch merges to the same state.
   *
   * Scale posture — per-batch work is O(touched buckets), NOT
   * O(destination): the destination is hive-partitioned on
   * `_bucket = pmod(xxhash64(keys), nBuckets)`, each micro-batch
   * reads back ONLY the bucket partitions its keys hash into
   * (partition pruning on the `isin` filter), merges, and rewrites
   * only those partitions via a write-scoped dynamic
   * partitionOverwriteMode. A batch touching 3 of 1024 buckets of a
   * 100 TB table reads and rewrites 3 buckets. The touched-bucket
   * list is one scan stage that sends each partition's set of bucket
   * ids to the driver — at most `nBuckets` ints per partition,
   * metadata-sized by construction. A batch whose keys spread over
   * every bucket (batch rows >> nBuckets, the usual case for a hashed
   * feed) touches every bucket and so rewrites the WHOLE destination
   * each tick.
   *
   * Layout rule (bucket count): the destination's `_graft_nbuckets`
   * marker wins; without one, `nBuckets` (default 32, which is also
   * the count of a marker-less bucketed destination from before the
   * marker existed, so its keys keep hashing into their buckets). The
   * count then DOUBLES whenever mean bucket size exceeds 2x
   * `targetBucketBytes`: by default (0) the session's
   * `spark.sql.files.maxPartitionBytes`, Spark's own split size.
   * The start stays at 32, not one bucket per core: a sparse batch
   * (a few keys) rewrites the buckets its keys touch, and at 4
   * buckets those are the whole state (ScaleStress `upsert`, 8 keys
   * into a 140 MB state: 4 buckets 30.2 s, 32 buckets 5.0 s).
   *
   * Reads launch no schema-inference job: the state read and the
   * returned read-back pass the schema the merge writes (the stream's
   * columns plus `_bucket` int).
   *
   * Merge plan per batch (see [[bucketedMergeStream]]): ONE exchange,
   * hash on `_bucket` into `p = min(touched, defaultParallelism)`
   * partitions, shuffles state and batch rows together; the keyed
   * fold and the write run in that stage with no further shuffle or
   * sort, so `p` tasks write exactly one file per touched bucket.
   *
   * Crash-safety: merged buckets are written to a staging dir (the
   * lazy plan can still READ the live partitions while staging
   * writes), then each touched bucket dir is published rename-aside
   * by `graft.sinks.Commit` (dst -> aside, src -> dst, delete aside
   * last) — the bucket's pre-batch rows survive a crash at ANY point,
   * and the repair every batch runs first (restore an aside whose dst
   * is missing, drop one whose dst exists) returns the destination to
   * a consistent pre- or post-swap state. The
   * streaming checkpoint only records the batch AFTER foreachBatch
   * returns, so the replayed batch re-merges the same rows into the
   * same buckets and keep-latest converges to the identical state.
   *
   * Bucket-count scaling: the layout's nBuckets is persisted in a
   * `_graft_nbuckets` marker inside the destination (the layout rule
   * above applies only at INITIAL layout — later batches follow the
   * marker, so mismatched callers can't shear the layout). A new
   * destination gets its marker before its first bucket dir, so a
   * crash mid-swap never leaves bucket dirs without one. The
   * doubling is a whole-directory rename-aside swap (the marker
   * travels inside the new directory, so the re-bucket is
   * crash-atomic too); its size check is one `getContentSummary`
   * listing per batch, no Spark job. Per-batch rewritten bytes
   * then stay ~O(touched x targetBucketBytes) as the destination
   * grows, instead of O(touched x destination/N) under a fixed N.
   * Each doubling rewrites the destination once — O(log growth)
   * rewrites total, the extendible-hashing amortization.
   *
   * `trigger` must be `Trigger.AvailableNow()` (the default): the
   * call waits for the run to finish before it reads the destination
   * back, which a trigger that never stops on its own would turn into
   * a hang.
   */
  def upsertStream(spark: SparkSession, stream: DataFrame, destDir: String,
                   keys: Seq[String], versionCol: String, checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow(),
                   nBuckets: Int = 32,
                   targetBucketBytes: Long = 0L,
                   bucketCols: Seq[String] = Nil): DataFrame = {
    require(trigger == Trigger.AvailableNow(),
      s"upsertStream runs under Trigger.AvailableNow only (it waits for the run " +
        s"to finish, then reads the destination back), got $trigger")
    bucketedMergeStream(spark, stream, destDir, keys, checkpoint,
      nBuckets, (rows, groupKeys) =>
        graft.operators.Upsert.latestPerKey(rows, groupKeys, versionCol),
      targetBucketBytes, bucketCols)
  }

  /**
   * The shared micro-batch machinery behind [[upsertStream]],
   * [[cdcStream]] and [[topKStream]]: bucket the batch, read back
   * ONLY the touched bucket partitions, fold them with the batch,
   * stage, and swap touched bucket dirs in with per-bucket renames.
   *
   * `fold(rows, groupKeys)` gets state ∪ batch as one frame, each row
   * tagged by [[graft.operators.Upsert.unionTagged]] (`_src`: 0 =
   * state, 1 = batch; the fold drops it), and must group on
   * `groupKeys = _bucket +: keys`. It must be a per-key semilattice
   * fold (its result for a key independent of batch split and
   * replay) for the final state to be deterministic and replays
   * idempotent.
   *
   * Bucket count and growth follow [[upsertStream]]'s layout rule:
   * the marker, else `nBuckets`; doubling past 2x `targetBucketBytes`
   * (0 = the session's `spark.sql.files.maxPartitionBytes`).
   *
   * Merge plan: the union is hash-partitioned ONCE on `_bucket` into
   * `p = min(touched, defaultParallelism)` partitions. Grouping on
   * `_bucket +: keys` groups the same rows as `keys` (`_bucket` is a
   * pure function of `layoutCols ⊆ keys`), so the fold's window
   * needs no exchange of its own, and its sort (led by `_bucket`)
   * already orders the rows the partitioned write needs. Each bucket
   * lands wholly in one of the `p` write tasks: one file per touched
   * bucket, from at most one task per core. This shape does not
   * depend on `spark.sql.unionOutputPartitioning`.
   */
  private def bucketedMergeStream(spark: SparkSession, stream: DataFrame,
                                  destDir: String, keys: Seq[String],
                                  checkpoint: String,
                                  nBuckets: Int,
                                  fold: (DataFrame, Seq[String]) => DataFrame,
                                  targetBucketBytes: Long = 0L,
                                  bucketCols: Seq[String] = Nil): DataFrame = {
    require(nBuckets > 0, "nBuckets must be positive")
    // `bucketCols` (default: the merge keys) chooses the SERVING
    // layout: e.g. an inverted-index state keyed (token, doc_id) but
    // bucketed on token alone keeps each token's postings in ONE
    // bucket, so reads prune by term while the merge stays per-key
    // correct (a key's bucket is still a pure function of its row).
    // Must be a subset of `keys` so a batch row and its state row
    // always land in the same bucket.
    val layoutCols = if (bucketCols.nonEmpty) bucketCols else keys
    require(layoutCols.forall(keys.contains),
      s"bucketCols must be a subset of keys: $layoutCols vs $keys")
    import org.apache.hadoop.fs.Path
    runAvailableNow(stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val dest = new Path(destDir)
        val fs = dest.getFileSystem(s.sparkContext.hadoopConfiguration)
        // ---- replay repair before ANY read (graft.sinks.Commit): a
        // re-bucket publish of the whole destination, then the bucket
        // publishes inside it, from one listing of <= nBuckets names
        Commit.repair(fs, dest)
        val hasBuckets = fs.exists(dest) && {
          // ---- layout guard: a non-empty destination with data files
          // but no `_bucket=` partition dirs was written by the
          // pre-bucketing (flat parquet) version of this sink — fail
          // loudly with the migration story instead of an unresolved-
          // column error three operators deep.
          val names = Commit.repairChildren(fs, dest).map(_.getPath.getName)
          val bucketDirs = names.exists(_.startsWith("_bucket="))
          val hasFlatData = names.exists(n => !n.startsWith("_") && !n.startsWith("."))
          if (!bucketDirs && hasFlatData)
            throw new IllegalStateException(
              s"streaming merge: destination $destDir has a pre-bucketing flat-parquet " +
              "layout; rewrite it into `_bucket=` partitions (read it, add " +
              "EventStreams.upsertBucket(keys, n) as `_bucket`, write partitionBy(_bucket), " +
              "and place an n-valued _graft_nbuckets marker) before resuming this stream")
          bucketDirs
        }
        // ---- the layout's bucket count: follow the destination's own
        // marker when it exists (the caller's nBuckets applies only at
        // initial layout, so differently-configured callers cannot
        // shear an existing layout); legacy bucketed dirs without a
        // marker fall back to the parameter, unchanged behavior.
        val markerPath = new Path(dest, "_graft_nbuckets")
        def readMarker(): Option[Int] =
          if (fs.exists(markerPath)) {
            val in = fs.open(markerPath)
            try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt)
            finally in.close()
          } else None
        def writeMarker(at: Path, n: Int): Unit = {
          val out = fs.create(new Path(at, "_graft_nbuckets"), true)
          try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
        val marker = readMarker()
        val curN = marker.getOrElse(nBuckets)
        val bucketed = batch.toDF().withColumn("_bucket", upsertBucket(layoutCols, curN))
        // one scan stage, no exchange: each partition sends its set of
        // bucket ids (<= curN ints), merged here
        val touched = bucketed.select("_bucket").as(Encoders.scalaInt)
          .mapPartitions { ids =>
            val seen = scala.collection.mutable.BitSet()
            ids.foreach(seen += _)
            seen.iterator
          }(Encoders.scalaInt)
          .collect().distinct.sorted
        if (touched.nonEmpty) {
          val existingTouched =
            if (hasBuckets)
              s.read.schema(bucketed.schema).parquet(destDir) // partition-pruned to touched buckets
                .filter(col("_bucket").isin(touched.map(Integer.valueOf): _*))
            else s.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), bucketed.schema)
          Commit.stage(fs, dest) { staging =>
            // the one exchange: a bucket's state and batch rows meet in
            // one of `p` partitions, so neither the fold nor the write
            // shuffles again, and no bucket is split across files
            val p = math.min(touched.length, s.sparkContext.defaultParallelism)
            fold(graft.operators.Upsert.unionTagged(existingTouched, bucketed)
                .repartition(p, col("_bucket")), "_bucket" +: keys)
              .write.partitionBy("_bucket")
              .parquet(staging.toString)
            // publish each touched bucket dir (atomic per bucket,
            // pre-batch rows survive a crash at any point; the repair
            // above settles whichever half completed); untouched buckets
            // are never listed or moved
            if (!fs.exists(dest)) fs.mkdirs(dest)
            // the marker lands BEFORE the first bucket dir: a crash
            // mid-swap must leave the count on disk, or the replay would
            // take the bucket dirs for a marker-less layout and merge
            // them at its own caller's nBuckets
            if (marker.isEmpty) writeMarker(dest, curN)
            touched.foreach { b =>
              val src = new Path(staging, s"_bucket=$b")
              if (fs.exists(src)) Commit.publish(fs, src, new Path(dest, s"_bucket=$b"))
            }
          }
          // ---- size-triggered re-bucket: when mean bucket size
          // exceeds 2x the target, DOUBLE the bucket count with a
          // whole-directory publish (the new marker rides
          // inside the new directory, so layout + count change
          // together atomically; the repair pass above makes a crash
          // at any rename recoverable). Doubling keeps pmod stable-
          // refining (h mod 2N mod N = h mod N) and costs one full
          // rewrite per doubling — O(log growth) total — written like
          // the merge: one file per bucket, at most one task per core.
          val target =
            if (targetBucketBytes > 0L) targetBucketBytes
            else s.sessionState.conf.filesMaxPartitionBytes
          var newN = curN
          val size = fs.getContentSummary(dest).getLength
          while (size > 2L * target * newN && newN < 65536) newN *= 2
          if (newN != curN) Commit.replace(fs, dest) { reb =>
            s.read.schema(bucketed.schema).parquet(destDir).drop("_bucket")
              .withColumn("_bucket", upsertBucket(layoutCols, newN))
              .repartition(math.min(newN, s.sparkContext.defaultParallelism), col("_bucket"))
              .write.partitionBy("_bucket").parquet(reb.toString)
            writeMarker(reb, newN)
          }
          ()
        }
      })
    // an empty feed commits no batch and never creates the
    // destination — the contract (return destination state) then
    // means an EMPTY frame, not a PATH_NOT_FOUND crash
    val destPath = new org.apache.hadoop.fs.Path(destDir)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the schema the merge writes: no schema-inference job
    if (fs.exists(destPath))
      spark.read.schema(stream.schema.add("_bucket", IntegerType)).parquet(destDir).drop("_bucket")
    else spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), stream.schema)
  }

  /**
   * Streaming CDC apply WITH DELETES into the bucketed parquet
   * destination — the streaming twin of
   * [[graft.operators.Upsert.applyCdc]]: the feed carries a version
   * column and an op column ('D' = tombstone, anything else =
   * upsert). Rides [[upsertStream]] unchanged (keepLatest is
   * schema-generic, so the op column travels with each key's winning
   * record); the one CDC-specific rule is that TOMBSTONES PERSIST AS
   * STATE ROWS and are filtered only on read-back — dropping them
   * from the destination would let a late-arriving OLDER version
   * resurrect a deleted key, which is the classic CDC-sink bug this
   * operator exists to prevent. Unique versions make the final state
   * batch-split- and order-independent; replays are idempotent.
   *
   * Layout: [[upsertStream]]'s rule — the destination's marker, else
   * `nBuckets`, doubling once mean bucket size passes 2x the
   * session's `spark.sql.files.maxPartitionBytes`.
   */
  def cdcStream(spark: SparkSession, stream: DataFrame, destDir: String,
                keys: Seq[String], versionCol: String, opCol: String,
                checkpoint: String,
                nBuckets: Int = 32): DataFrame =
    upsertStream(spark, stream, destDir, keys, versionCol, checkpoint,
        nBuckets = nBuckets)
      .filter(col(opCol) =!= "D").drop(opCol)

  /**
   * Streaming per-key TOP-K maintenance: each micro-batch folds into
   * a parquet state table holding at most k rows per key — union the
   * batch with the current state, re-rank, keep k, crash-safe swap
   * (same rename-aside protocol as the upsert sink). Correct across
   * ANY batch split because bounded top-k is a semilattice:
   * topK(topK(A) ∪ B) = topK(A ∪ B) — an early row can be EVICTED by
   * a later batch, which plain append sinks cannot express and
   * watermarked aggregation only approximates. The rank's tiebreak
   * column must be unique per key so the kept set is batch-split-
   * and order-independent; replays merge to the same state
   * (idempotent for the same reason the upsert is).
   *
   * Scale posture: state is <= k rows per key — the destination stays
   * keys x k regardless of stream history — and, like the upsert, the
   * destination is BUCKETED on the key hash: each batch reads back
   * and rewrites only the bucket partitions its keys touch (the
   * shared [[bucketedMergeStream]] machinery), so per-batch work is
   * O(touched buckets), not O(all keys x k). The bucket count follows
   * [[upsertStream]]'s layout rule: the destination's marker, else
   * `nBuckets`, doubling once mean bucket size passes 2x the
   * session's `spark.sql.files.maxPartitionBytes`.
   */
  def topKStream(spark: SparkSession, stream: DataFrame, destDir: String,
                 keys: Seq[String], orderCol: String, tieCol: String, k: Int,
                 checkpoint: String,
                 nBuckets: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    bucketedMergeStream(spark, stream, destDir, keys, checkpoint,
      nBuckets, (rows, groupKeys) =>
        rows.drop("_src")
          // collapse replayed rows BEFORE ranking: on an at-least-once
          // redelivery after a partial bucket swap, batch rows already
          // folded into state arrive again as exact duplicates — ranked
          // raw they would occupy multiple top-k slots and evict
          // legitimate rows. tieCol is unique per key by contract, so
          // (keys, order, tie) identifies a row and the fold is a true
          // idempotent semilattice again.
          .dropDuplicates((groupKeys :+ orderCol :+ tieCol).toIndexedSeq)
          .withColumn("_rn", row_number().over(Window.partitionBy(groupKeys.map(col): _*)
            .orderBy(desc(orderCol), desc(tieCol))))
          .filter(col("_rn") <= k).drop("_rn"))
  }

  /**
   * Streaming CDC apply WITH DELETES into a relational destination —
   * the JDBC twin of [[cdcStream]]: the feed carries a version column
   * and an op column ('D' = tombstone). Tombstones PERSIST AS ROWS in
   * the target (the MERGE's version guard updates them like any other
   * record) and are filtered only on read-back — a server-side DELETE
   * clause would let a late, OLDER-version upsert re-insert a deleted
   * key on the next batch (NOT MATCHED → INSERT), the classic CDC-sink
   * bug. A maintenance job may hard-delete tombstone rows older than
   * the feed's replay horizon; until then they are the correctness
   * state. Same one-MERGE-per-batch, replay-idempotent discipline as
   * [[jdbcUpsertStream]].
   */
  def jdbcCdcStream(spark: SparkSession, stream: DataFrame,
                    url: String, table: String, stagingTable: String,
                    keys: Seq[String], versionCol: String, opCol: String,
                    ddl: String, checkpoint: String,
                    stagingColumnTypes: Option[String] = None): DataFrame =
    jdbcUpsertStream(spark, stream, url, table, stagingTable, keys,
        versionCol, ddl, checkpoint, stagingColumnTypes)
      .filter(col(opCol) =!= "D").drop(opCol)

  /**
   * Streaming keyed upsert into a RELATIONAL destination — the
   * streaming twin of the W1 JDBC batch-insert sink, and the shape a
   * 100 TB pipeline uses to keep a serving database current from a
   * feed. Per micro-batch: (1) reduce the batch to newest-per-key
   * (`keepLatest` over an empty base — a server-side MERGE throws a
   * cardinality violation if two source rows hit one target row),
   * (2) land it in a staging table through the executor-parallel JDBC
   * writer, (3) ONE server-side `MERGE INTO` folds staging into the
   * target, newest `versionCol` wins. The version guard makes a
   * replayed batch (at-least-once redelivery, foreachBatch reruns
   * after a crash) converge to the same final state — idempotence
   * lives in the MERGE predicate, not in fragile sink dedup.
   *
   * Scale posture: the expensive half (batch dedup + staging insert)
   * is distributed; the MERGE is one set-based server-side statement
   * per batch (no per-row driver round-trips). At warehouse scale the
   * same shape runs against any MERGE-capable store.
   *
   * `ddl` gives the target's column DDL (Derby maps strings to CLOB
   * by default, which can't even be compared server-side — the caller
   * states VARCHAR widths). Identifiers are double-quoted to match
   * the Spark JDBC writer's quoted (case-preserving) staging columns.
   */
  def jdbcUpsertStream(spark: SparkSession, stream: DataFrame,
                       url: String, table: String, stagingTable: String,
                       keys: Seq[String], versionCol: String, ddl: String,
                       checkpoint: String,
                       stagingColumnTypes: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "jdbcUpsertStream needs at least one merge key")
    val cols = stream.schema.fieldNames.toSeq
    val nonKeys = cols.filterNot(c => keys.contains(c))
    require(nonKeys.contains(versionCol), s"versionCol $versionCol must be a non-key column")
    def q(c: String) = "\"" + c + "\""
    val onClause = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
    val setClause = nonKeys.map(c => s"t.${q(c)} = s.${q(c)}").mkString(", ")
    val insertCols = cols.map(q).mkString(", ")
    val insertVals = cols.map(c => s"s.${q(c)}").mkString(", ")
    val mergeSql =
      s"""MERGE INTO $table t USING $stagingTable s ON $onClause
         |WHEN MATCHED AND s.${q(versionCol)} > t.${q(versionCol)}
         |  THEN UPDATE SET $setClause
         |WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)""".stripMargin
    val props = new java.util.Properties()
    // target created up front (driver connection also boots the db):
    // an empty feed then returns an empty TABLE, not a read error.
    // CREATE ... IF NOT EXISTS doesn't exist in Derby: try, swallow
    // only the table-already-exists state (X0Y32).
    val conn0 = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn0.createStatement()
      try st.executeUpdate(s"CREATE TABLE $table ($ddl)")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () }
      finally st.close()
    } finally conn0.close()
    runAvailableNow(stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = batch.sparkSession
        val deduped = graft.operators.Upsert.keepLatest(
          s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            batch.schema),
          batch.toDF(), keys, versionCol)
        // string columns must land as comparable VARCHARs, not
        // Derby's default CLOB, or the MERGE's SET/compare fails
        val w = deduped.write.mode("overwrite")
        stagingColumnTypes.foreach(t => w.option("createTableColumnTypes", t))
        w.jdbc(url, stagingTable, props)
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          val st = conn.createStatement()
          try st.executeUpdate(mergeSql) finally st.close()
        } finally conn.close()
        () // foreachBatch wants Unit, not executeUpdate's row count
      })
    spark.read.jdbc(url, table, props)
  }

  /**
   * Streaming SKETCH maintenance — the shape a 100 TB telemetry
   * pipeline actually runs: per-group theta sketches maintained
   * INCREMENTALLY per micro-batch, never recomputed from facts. Each
   * batch builds its own |groups| sketch binaries (map-side partial
   * aggregation over just the batch) and theta_union_agg-merges them
   * into the persisted state table at `destDir` — so per-batch work
   * is O(batch + groups·2^lgK bytes) and the state stays ~26 KB per
   * group FLAT regardless of stream history (the SCALE theta
   * evidence). Returns the final state: (groupCols..., sk binary);
   * feed `theta_sketch_estimate(sk)` for cardinalities or keep
   * merging the binaries upward (day → month) batch-side.
   *
   * Correctness across batches: theta union is an idempotent,
   * commutative, associative semilattice over the retained-hash sets
   * (re-merging a replayed batch's sketch changes nothing — the
   * min-k hash set already contains it), so the merged state equals
   * the one-shot batch sketch over the whole feed and at-least-once
   * replays converge. The state swap is a whole-directory
   * rename-aside (state is groups-sized — tiny), repaired on the
   * next batch exactly like the bucketed sink's protocol.
   */
  def sketchRollupStream(spark: SparkSession, stream: DataFrame, destDir: String,
                         groupCols: Seq[String], valueCol: String,
                         checkpoint: String,
                         lgK: Int = 12,
                         buildAgg: Option[String] = None,
                         mergeAgg: Option[String] = None): DataFrame = {
    require(groupCols.nonEmpty, "sketchRollupStream needs at least one group column")
    // default: theta distinct-count sketches; any mergeable-sketch
    // pair works — e.g. KLL quantiles via
    //   buildAgg = kll_sketch_agg_double(<value>, 200)
    //   mergeAgg = kll_merge_agg_double(sk)
    // (KLL merge is associative/commutative; re-merging a replayed
    // batch's sketch is NOT a strict no-op like theta's min-k set,
    // but the checkpoint replays the same batch boundary, so the
    // recovered state still converges to a valid whole-feed sketch.)
    val build = buildAgg.getOrElse(s"theta_sketch_agg($valueCol, $lgK)")
    val mergeA = mergeAgg.getOrElse(s"theta_union_agg(sk, $lgK)")
    val g = groupCols.map(col)
    // the state's schema (analysis only, no job): reads of the state
    // pass it, so none launches a footer-read job
    val stateSchema = stream.groupBy(g: _*).agg(expr(build).as("sk")).schema
    import org.apache.hadoop.fs.Path
    runAvailableNow(stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val dest = new Path(destDir)
        val fs = dest.getFileSystem(s.sparkContext.hadoopConfiguration)
        // repair a crashed publish before any read
        Commit.repair(fs, dest)
        val batchSk = batch.toDF().groupBy(g: _*)
          .agg(expr(build).as("sk"))
        val merged =
          if (fs.exists(dest))
            s.read.schema(stateSchema).parquet(destDir).unionByName(batchSk)
              .groupBy(g: _*).agg(expr(mergeA).as("sk"))
          else batchSk
        // the write MATERIALIZES merged while dest is still live; the
        // publish only moves directories
        Commit.replace(fs, dest)(staging => merged.coalesce(1).write.parquet(staging.toString))
      })
    val destPath = new Path(destDir)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(destPath)) spark.read.schema(stateSchema).parquet(destDir)
    else spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), stateSchema)
  }

  /**
   * Execute a streaming aggregate through a PARQUET sink (append mode
   * — the only mode file sinks support) with `Trigger.AvailableNow`,
   * then read the committed files back. This is the production
   * streaming path end-to-end: micro-batch planner, state store,
   * watermark advancement, exactly-once file commit via the sink's
   * manifest log.
   *
   * Emission contract (what makes this ORACLE-ABLE): append mode
   * releases a window only once the watermark passes its end. With
   * AvailableNow, after the data batches finish Spark runs a final
   * no-data batch whose watermark is max(event time) − delay, so the
   * committed result is exactly the windows with
   * `window_end <= max(ts) − delay` — a deterministic function of the
   * input that a batch SQL oracle can state verbatim. Windows inside
   * the final delay stay in state (they would emit on the next run —
   * correct streaming semantics, not data loss).
   *
   * `statePartitions` sizes the state store: a streaming aggregation
   * creates (and checkpoints) one state store instance PER shuffle
   * partition EVERY micro-batch, so the session default (sized for
   * batch shuffles) over-pays at small state volumes — state-partition
   * count is a per-query capacity decision (state volume / executor
   * memory), frozen into the checkpoint on first run. The stream
   * starts on a session scope ([[graft.GraftSession.withConf]]) with
   * that many shuffle partitions; `spark`'s own conf is not touched.
   */
  def runToParquet(spark: SparkSession, streamed: DataFrame, workDir: String,
                   statePartitions: Option[Int] = None): DataFrame = {
    val out = s"$workDir/out"
    def run(df: DataFrame): Unit = runAvailableNow(df.writeStream
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$workDir/ckpt")
      .outputMode(OutputMode.Append()))
    statePartitions match {
      case None => run(streamed)
      case Some(n) => graft.GraftSession.withConf(spark,
        Map("spark.sql.shuffle.partitions" -> n.toString)) { s =>
        run(org.apache.spark.sql.GraftSqlBridge.rebind(s, streamed))
      }
    }
    // explicit schema: when NO window closed (corpus shorter than
    // watermark + window), the sink directory holds only the metadata
    // log and a schema-inferring read would throw instead of
    // returning the empty result the query semantics call for
    spark.read.schema(streamed.schema).parquet(out)
  }

  /** Run a streaming DataFrame to completion against a bounded source
    * and return the final result from the in-memory sink. */
  def runToMemory(spark: SparkSession, streamed: DataFrame, queryName: String,
                  outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    runAvailableNow(streamed.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode))
    spark.table(queryName)
  }

  /**
   * Stream-static enrich where the STATIC side is RE-READ every
   * micro-batch — dimension refresh without restarting the query.
   * Spark's plan-time stream-static join binds the dimension ONCE at
   * query start (a re-published blocklist/tier table is invisible
   * until restart); re-resolving the dimension inside foreachBatch
   * makes each batch see the dimension AS OF its own execution — the
   * slowly-changing-enrichment semantics a 24/7 ingest actually
   * needs. `afterBatch` runs after a batch's output commits (the
   * seam the gate uses to publish the next dimension version exactly
   * between batches, simulating the out-of-band publisher).
   *
   * Scale posture: per batch, one dimension read (dimension-sized)
   * + one broadcast hash join over just the batch; nothing about
   * the operator grows with stream history. The broadcast is
   * unconditional BY CONTRACT (the static side is a dimension), so
   * it is guarded loudly: every batch checks the dimension
   * directory's byte size against `maxDimBytes` and fails with a
   * named error instead of letting a fact-sized dir OOM the driver
   * mid-stream (the etl_media_binaryfile maxBytes pattern).
   *
   * Idempotent replay ([[runExactlyOnce]]): each batch writes to its
   * own `enrich_batch=<batchId>` partition directory with OVERWRITE
   * mode, a marker-less partial from a crashed write is dropped first,
   * and a batch whose `_SUCCESS` marker already exists is skipped
   * entirely (no rewrite, no `afterBatch`). A foreachBatch retry
   * after the write but before checkpoint commit therefore replaces
   * its own output in place instead of duplicating it, and never
   * re-enriches against a dimension version published AFTER its
   * first successful run — exactly-once output on top of the sink's
   * at-least-once delivery.
   */
  def enrichRefreshedDimStream(spark: SparkSession, stream: DataFrame,
                               dimDir: String, outDir: String,
                               checkpoint: String, key: String,
                               afterBatch: Long => Unit = _ => (),
                               maxDimBytes: Long = 512L << 20): DataFrame =
    runExactlyOnce(spark, stream, checkpoint, outDir, part = "enrich_batch") { (batch, batchId) =>
      val ss = batch.sparkSession
      val dimPath = new org.apache.hadoop.fs.Path(dimDir)
      val dimBytes = dimPath.getFileSystem(ss.sparkContext.hadoopConfiguration)
        .getContentSummary(dimPath).getLength
      require(dimBytes <= maxDimBytes,
        s"enrichRefreshedDimStream: dimension at $dimDir is $dimBytes bytes " +
          s"(limit $maxDimBytes) — the static side is broadcast every micro-batch " +
          "and must stay dimension-sized; repartition-join a fact-sized side instead")
      val dim = broadcast(ss.read.parquet(dimDir))
      batch.join(dim, Seq(key), "left")
        .write.mode("overwrite").parquet(batchPart(outDir, batchId, "enrich_batch"))
      afterBatch(batchId)
    }

  /**
   * Streaming ANN index maintenance — the streaming face of
   * `Similarity.ivfAppend`: each arriving micro-batch of vectors is
   * assigned to the EXISTING centroids map-side
   * (`Similarity.assignToCentroids`, one argmin projection per row)
   * and appended to the postings directory. Batches write to their
   * own `enrich_batch=<id>` partition with overwrite and a committed
   * batch is skipped whole (the [[runExactlyOnce]] replay protocol),
   * so postings are exactly-once however often the sink retries. Centroids stay FIXED for the stream's lifetime — the
   * operator's contract; the rebuild decision (embed_centroid_drift)
   * is a batch-side concern between stream restarts.
   *
   * Returns the appended postings (partition bookkeeping column
   * dropped). Per batch: one metadata-sized centroid collect + one
   * batch-sized projection; nothing corpus-sized ever runs.
   */
  def ivfAppendStream(spark: SparkSession, stream: DataFrame,
                      centroids: DataFrame, outDir: String,
                      checkpoint: String, vecCol: String): DataFrame =
    runExactlyOnce(spark, stream, checkpoint, outDir, part = "enrich_batch") { (batch, batchId) =>
      graft.operators.Similarity
        .assignToCentroids(batch, centroids, vecCol)
        .write.mode("overwrite").parquet(batchPart(outDir, batchId, "enrich_batch"))
    }

  /**
   * Streaming IVF-PQ index maintenance — [[ivfAppendStream]]'s
   * composed twin (the streaming face of `Similarity.ivfPqAppend`):
   * each arriving micro-batch of vectors is assigned to the EXISTING
   * centroids map-side, RESIDUAL-encoded against the EXISTING
   * codebooks (one broadcast centroid join + the codegen'd PQ argmin
   * — both batch-sized), and lands in its own `enrich_batch=<id>`
   * partition with overwrite (committed batches skip whole — the
   * shared replay protocol), so the code postings are exactly-once
   * however often the sink retries. Centroids AND codebooks stay
   * fixed for the stream's lifetime; `embed_centroid_drift` is the
   * rebuild trigger between restarts, exactly as the batch append.
   */
  def ivfPqAppendStream(spark: SparkSession, stream: DataFrame,
                        centroids: DataFrame,
                        codebooks: Array[Array[Array[Double]]],
                        outDir: String, checkpoint: String,
                        vecCol: String): DataFrame =
    runExactlyOnce(spark, stream, checkpoint, outDir, part = "enrich_batch") { (batch, batchId) =>
      val withRes = graft.operators.Similarity
        .assignToCentroids(batch, centroids, vecCol)
        .join(broadcast(centroids), "cell")
        .withColumn("_res", expr(
          s"zip_with(cast($vecCol as array<double>), centroid, (x, y) -> x - y)"))
      graft.operators.Similarity.pqEncode(withRes, "_res", codebooks)
        .drop("_res", "centroid")
        .write.mode("overwrite").parquet(batchPart(outDir, batchId, "enrich_batch"))
    }

  /**
   * Per-micro-batch distribution-drift monitor (PSI): each batch's
   * value-band histogram is scored against a STATIC reference
   * distribution and ONE row per batch
   * (batch_id, n_events, psi_micro) is appended to the monitor sink —
   * the data-quality sidecar a streaming ingest runs next to every
   * feed (alert when psi_micro crosses the conventional 0.2 = 200000
   * line). Exactness is etl_distribution_drift_psi's discipline
   * verbatim: bands from Profile.psiBand (floor(value/bandWidth)
   * clamped into [0, bands) — the one convention all three PSI
   * surfaces share, so this monitor and VALIDATE_DRIFT report the
   * same psi_micro for the same data), +1-smoothed counts so an
   * empty band can't blow up the log, exact integer log arguments,
   * one BIGINT floor division per band. An EMPTY micro-batch is a
   * defined reading, not a NULL row: the batch total coalesces to 0,
   * so the monitor emits n_events=0 with the all-bands-empty
   * psi_micro (an empty feed is itself an anomaly worth alerting on).
   *
   * Scale posture: stateless — per batch, one map-side-combinable
   * band count, a bands-sized broadcast join against the reference
   * histogram, a bands-sized sum. The reference is computed ONCE from
   * the calibration era and shipped as a plain DataFrame (bands
   * rows); nothing about the monitor grows with the feed.
   */
  def driftPsiStream(spark: SparkSession, stream: DataFrame,
                     ref: DataFrame, outDir: String, checkpoint: String,
                     bandWidth: Double, bands: Int = 10): DataFrame = {
    val refRows = broadcast(ref) // (band, r) — bands-sized
    val spine = spark.range(0, bands).select(col("id").as("band"))
      .crossJoin(broadcast(refRows.agg(sum("r").as("mt"))))
      .join(refRows, Seq("band"), "left")
      .select(col("band"), coalesce(col("r"), lit(0L)).as("r"), col("mt"))
      .localCheckpoint() // bands rows, reused every batch, freed when the run ends
    try runExactlyOnce(spark, stream, checkpoint, outDir) { (batch, batchId) =>
      val counts = batch
        .select(graft.operators.Profile.psiBand("value", bandWidth, bands).as("band"))
        .groupBy("band").agg(count(lit(1)).as("c"))
      val g = spine.join(counts, Seq("band"), "left")
        .select(col("band"), col("r"), col("mt"),
          coalesce(col("c"), lit(0L)).as("c"))
        .crossJoin(broadcast(counts.agg(coalesce(sum("c"), lit(0L)).as("nt"))))
        // era-count products wrap 2^63 past ~1e8 rows per era: factor-cast
        // doubles into the log, DECIMAL(38,0) for the rational — the
        // etl_distribution_drift_psi discipline, kept verbatim across the
        // three PSI surfaces.
        .withColumn("lq_micro",
          round(log(((col("c") + 1).cast("double") * (col("mt") + bands)) /
            ((col("r") + 1).cast("double") * (col("nt") + bands))) * 1000000)
            .cast("long"))
      g.agg(max("nt").as("n_events"),
          sum(expr(
            s"CAST((CAST(c + 1 AS DECIMAL(38,0)) * (mt + $bands)" +
              s" - CAST(r + 1 AS DECIMAL(38,0)) * (nt + $bands)) * lq_micro" +
              s" div (CAST(nt + $bands AS DECIMAL(38,0)) * (mt + $bands)) AS BIGINT)"))
            .as("psi_micro"))
        .withColumn("batch_id", lit(batchId))
        .select("batch_id", "n_events", "psi_micro")
        .write.mode("overwrite").parquet(batchPart(outDir, batchId))
    } finally graft.operators.Checkpoints.free(spine)
  }
}
