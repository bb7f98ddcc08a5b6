package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
import graft.sinks.Commit

/**
 * Lake-maintenance operators: small-file compaction with optional
 * range-cluster layout, over plain parquet/ORC directories.
 *
 * Why this is core at 100 TB: a streaming sink or a per-batch load
 * (the reference's chunked loop, CoreLibInterfaces.java:78) leaves
 * thousands of sub-megabyte files per partition; every downstream
 * scan then pays one open + one footer read per file, and the
 * NameNode/object-store listing itself becomes a bottleneck.
 * Compaction rewrites a directory into ~targetFileBytes files —
 * and, when `sortCols` is given, range-clusters rows while it's at
 * it, so parquet row-group min/max stats actually skip for
 * predicates on those columns (the poor man's Z-order: one sort
 * dimension, which is the common case for time-keyed feeds).
 *
 * Scale shape: pure compaction is shuffle-FREE — the scan already
 * packs small files into ~maxPartitionBytes splits, and `coalesce`
 * merges those without moving rows. Range clustering shuffles once
 * (`repartitionByRange`), which IS the clustering work. Either way
 * the rewrite is staged next to the destination and published by
 * `graft.sinks.Commit`, so a reader never observes a half-written
 * directory and a crash never strands the only copy.
 *
 * Flat directories only: a hive-partitioned root must be compacted
 * one leaf at a time (each leaf is a flat dir — drive the loop from
 * the partition listing). Compacting across leaves would rewrite
 * the layout readers prune on.
 */
object Maintenance {

  final case class CompactStats(
      filesBefore: Long, bytesBefore: Long, filesAfter: Long, rows: Long,
      skipped: Boolean = false)

  /** Data files under `dir`, excluding `_SUCCESS`/metadata and hidden
    * files — the set a compaction pass rewrites. Flat dirs only:
    * nested data files mean a partitioned layout and fail loudly. */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory)
        throw new IllegalArgumentException(
          s"$dir contains subdirectory $n: compact hive-partitioned layouts " +
            "one leaf directory at a time (rewriting across leaves would " +
            "destroy the layout readers prune on)")
      else Seq(st)
    }

  /**
   * Rewrite the flat `format` directory at `dir` into
   * `ceil(bytes / targetFileBytes)` files (the on-disk byte size is
   * the best stand-in for post-rewrite size without a dry run —
   * same data, same format; pass `compression` to re-encode).
   * `sortCols` switches the plan from shuffle-free `coalesce` to
   * `repartitionByRange` + `sortWithinPartitions`: one shuffle that
   * leaves per-file value ranges disjoint on the sort key.
   * The skip guard lives HERE, for every caller ("already compact" is
   * decided once): an empty dir, a dir already exactly at the computed
   * target count, or a merge whose input is at/below the `minFiles`
   * floor returns `skipped = true` without the rewrite. Splitting
   * (target count above the current count) and `sortCols` clustering
   * always run.
   */
  def compact(spark: SparkSession, dir: String, format: String = "parquet",
              targetFileBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil,
              compression: Option[String] = None,
              minFiles: Int = 1): CompactStats = {
    val dest = new Path(dir)
    val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Commit.repair(fs, dest)
    compactRepaired(spark, fs, dest, format, targetFileBytes, sortCols, compression, minFiles)
  }

  /** [[compact]] of a `dest` whose crashed publishes are settled. */
  private def compactRepaired(spark: SparkSession, fs: FileSystem, dest: Path, format: String,
                              targetFileBytes: Long, sortCols: Seq[String],
                              compression: Option[String], minFiles: Int): CompactStats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fmt = format.toLowerCase match {
      case f @ ("parquet" | "orc") => f
      case other => throw new IllegalArgumentException(
        s"compact supports parquet/orc (self-describing schemas), got $other")
    }
    require(fs.exists(dest), s"compact: $dest does not exist")
    val files = dataFiles(fs, dest)
    val bytesBefore = files.map(_.getLen).sum
    val nOut = math.max(1L, (bytesBefore + targetFileBytes - 1) / targetFileBytes).toInt
    // skip = empty, already EXACTLY at the computed target count
    // (rewriting N files into the same N pays a full read+write for
    // nothing), or a merge that would gain fewer files than the
    // minFiles floor cares about. Splitting (nOut > files) always
    // proceeds; a sortCols rewrite is never count-skipped — the
    // clustering IS the point.
    val skip = files.isEmpty || (sortCols.isEmpty &&
      (files.size == nOut || (nOut < files.size && files.size <= minFiles)))
    if (skip)
      return CompactStats(files.size.toLong, bytesBefore, files.size.toLong, 0L,
        skipped = true)

    val laidOut = compactionPlan(spark.read.format(fmt).load(dest.toString), nOut, sortCols)
    val obs = Observation(s"graft_compact_${java.util.UUID.randomUUID().toString.take(8)}")
    val counted = laidOut.observe(obs, count(lit(1)).as("rows"))
    Commit.replace(fs, dest) { staged =>
      val w = counted.write.mode("overwrite")
      compression.fold(w)(c => w.option("compression", c)).format(fmt).save(staged.toString)
    }
    val rows = obs.get.get("rows").map(_.asInstanceOf[Number].longValue).getOrElse(0L)
    CompactStats(files.size.toLong, bytesBefore, dataFiles(fs, dest).size.toLong, rows)
  }

  /**
   * Compact a hive-partitioned root: walk to the leaf directories
   * (the dirs that directly hold data files) and compact each one in
   * place — the layout readers prune on is untouched, because no
   * rewrite crosses a partition boundary. The leaf loop is
   * driver-side and sequential (each leaf is its own Spark job with
   * full cluster parallelism inside); at very high partition counts,
   * run it over a partition-predicate subset per maintenance window
   * instead of the whole table. Returns (leaf path, stats) per
   * compacted leaf; leaves already at one file are skipped via the
   * walker's own listing (one listStatus per directory — the listing
   * load is the thing compaction exists to reduce). Each listing
   * first repairs the directories it lists (`Commit.repairChildren`),
   * so a leaf whose swap crashed is restored and compacted, never
   * skipped as missing, and no leaf compaction lists its level again.
   */
  def compactPartitioned(spark: SparkSession, root: String,
                         format: String = "parquet",
                         targetFileBytes: Long = 128L << 20,
                         sortCols: Seq[String] = Nil,
                         compression: Option[String] = None): Seq[(String, CompactStats)] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(rootPath), s"compactPartitioned: $root does not exist")
    // one listing per dir: returns (leaf, visible data-file count)
    def leaves(p: Path): Seq[(Path, Int)] = {
      val children = Commit.repairChildren(fs, p)
      val names = children.map(_.getPath.getName).toSet
      val regular = children.filterNot { st =>
        val n = st.getPath.getName
        // hidden files/dirs, plus visible artifact-shaped dirs whose
        // base sibling exists (legacy leftovers — vacuum's business);
        // a visible artifact-shaped dir WITHOUT its base is treated
        // as data (could be a real partition value)
        n.startsWith("_") || n.startsWith(".") ||
          Commit.leftover(n).exists { case (base, _) => names.contains(base) }
      }
      val (dirs, files) = regular.partition(_.isDirectory)
      if (files.nonEmpty) {
        require(dirs.isEmpty,
          s"$p mixes data files and subdirectories — not a hive layout")
        Seq(p -> files.size)
      } else dirs.flatMap(d => leaves(d.getPath))
    }
    leaves(rootPath)
      // single-file leaves are skipped only when no clustering was
      // asked for: with sortCols a lone unsorted file still needs the
      // range rewrite (matching flat compact's contract, where the
      // sortCols path is never count-skipped)
      .filter { case (_, n) => n > 1 || sortCols.nonEmpty }
      .map { case (l, _) => l.toString ->
        compactRepaired(spark, fs, l, format, targetFileBytes, sortCols, compression, 1) }
  }

  /**
   * Z-order (Morton) value: interleave the low `bits` bits of each
   * column — bit b of column i lands at position `b * n + i` — so
   * sorting by the result clusters rows that are close in EVERY
   * dimension. That is the multi-column data-skipping layout: a
   * single-column sort gives perfect skipping on one predicate column
   * and none on the others, while a Z-order sort gives good (not
   * perfect) skipping on each of them. Composed from built-in
   * shift/and expressions — whole-stage codegen, no UDF; the
   * disjoint-bit terms combine by addition (== bitwise OR here).
   * Inputs must be non-negative and fit in `bits` bits — quantize
   * first (rank, bucket, or truncate); `bits * n` must stay <= 63.
   */
  def zValue(cols: Seq[org.apache.spark.sql.Column], bits: Int = 16): org.apache.spark.sql.Column = {
    val n = cols.size
    require(n >= 2, "zValue needs at least two columns (use a plain sort for one)")
    require(bits > 0 && bits.toLong * n <= 63,
      s"bits * columns must fit a long, got $bits x $n")
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val terms = for {
      (c, ci) <- cols.zipWithIndex
      b <- 0 until bits
    } yield shiftleft(shiftright(c.cast("long"), b).bitwiseAND(lit(1L)), b * n + ci)
    terms.reduce(_ + _)
  }

  /**
   * 2-D Hilbert curve index of two ALREADY-QUANTIZED long columns in
   * [0, 2^bits) — the space-filling layout key with strictly better
   * locality than the Z-curve: every Hilbert step is a unit move, so
   * a contiguous index range maps to a compact region, where Morton
   * order's quadrant jumps make some range queries span distant
   * files. The standard xy2d bit-descent (Wikipedia's public
   * formulation, re-derived) runs as ONE SQL fold: aggregate over
   * the bit levels with a (x, y, d) struct accumulator — a pure
   * Catalyst higher-order expression, codegen-friendly, no UDF —
   * and the identical fold is expressible in DuckDB (list_reduce),
   * which is how the gate row pins every curve index bit-exact.
   * The quadrant flip uses the FULL-grid mask (n−1 − coord), per
   * the reference algorithm — a level-local mask would corrupt
   * high bits on the first level.
   */
  def hilbertValue(xq: org.apache.spark.sql.Column, yq: org.apache.spark.sql.Column,
                   bits: Int = 16): org.apache.spark.sql.Column = {
    require(bits > 0 && 2L * bits <= 62, s"2*bits must fit a long, got $bits")
    import org.apache.spark.sql.functions.{aggregate => hoAggregate, array, lit, struct, when}
    import org.apache.spark.sql.Column
    val top = lit((1L << bits) - 1L)
    val levels = array((bits - 1 to 0 by -1).map(i => lit(1L << i)): _*)
    val init = struct(xq.cast("long").as("x"), yq.cast("long").as("y"), lit(0L).as("d"))
    def step(a: Column, s: Column): Column = {
      val rx = a.getField("x").bitwiseAND(s) > 0
      val ry = a.getField("y").bitwiseAND(s) > 0
      struct(
        when(ry, a.getField("x"))
          .when(rx, top - a.getField("y"))
          .otherwise(a.getField("y")).as("x"),
        when(ry, a.getField("y"))
          .when(rx, top - a.getField("x"))
          .otherwise(a.getField("x")).as("y"),
        (a.getField("d") + s * s *
          when(ry, when(rx, lit(2L)).otherwise(lit(1L)))
            .otherwise(when(rx, lit(3L)).otherwise(lit(0L)))).as("d"))
    }
    hoAggregate(levels, init, step, _.getField("d"))
  }

  /** Range-partition and sort `df` by the 2-D Hilbert index of two
    * columns, each auto-quantized from its own [min, max] onto
    * [0, 2^bits) (same normalization argument as [[zOrderedAuto]]).
    * One metadata-sized min/max aggregation + one range exchange. */
  def hilbertOrderedAuto(df: DataFrame, xCol: String, yCol: String,
                         nOut: Int, bits: Int = 13): DataFrame = {
    import org.apache.spark.sql.functions.{floor, greatest, least}
    val cols = Seq(xCol, yCol)
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"lo_$c"),
      max(col(c)).cast("double").as(s"hi_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val top = (1L << bits) - 1
    def stat(name: String, dflt: Double): Double =
      if (r.isNullAt(r.fieldIndex(name))) dflt else r.getAs[Double](name)
    val Seq(qx, qy) = cols.map { c =>
      val lo = stat(s"lo_$c", 0.0)
      val hi = stat(s"hi_$c", 1.0)
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      val scaled = (col(c).cast("double") - lit(lo)) / lit(span) * lit(top.toDouble)
      least(lit(top), greatest(lit(0L), floor(scaled).cast("long")))
    }
    val hvCol = s"_hv_${java.util.UUID.randomUUID().toString.take(8)}"
    df.withColumn(hvCol, hilbertValue(qx, qy, bits))
      .repartitionByRange(nOut, col(hvCol))
      .sortWithinPartitions(col(hvCol))
      .drop(hvCol)
  }

  /** Range-partition and sort `df` by the Z-value of `cols` (the
    * clustering `compact`'s single-key `sortCols` cannot express),
    * then drop the helper column: one range exchange, parquet
    * row-group min/max stats become selective for predicates on ANY
    * of the clustered columns. */
  def zOrdered(df: DataFrame, cols: Seq[String], nOut: Int, bits: Int = 16): DataFrame = {
    // unique helper name: a fixed "_zv" would silently replace (and
    // then drop) a user column of the same name
    val zvCol = s"_zv_${java.util.UUID.randomUUID().toString.take(8)}"
    df.withColumn(zvCol, zValue(cols.map(col), bits))
      .repartitionByRange(nOut, col(zvCol))
      .sortWithinPartitions(col(zvCol))
      .drop(zvCol)
  }

  /**
   * Z-order with automatic per-column quantization: each column is
   * linearly rescaled from its own [min, max] onto [0, 2^bits) before
   * interleaving. This normalization is what makes Z-ordering WORK on
   * real columns: interleaving raw values whose domains differ by
   * orders of magnitude lets the wider column's high bits dominate
   * the curve — every file then spans the narrow column's whole range
   * and skipping on it silently degrades to nothing (measured: a
   * 16-file Z-order of lineitem on raw (l_partkey, l_orderkey)
   * pruned 0 files for a partkey range; quantized, the same query
   * reads ~1/16th). Costs one metadata-sized min/max aggregation
   * before the single range exchange. Nulls sort into their own
   * range partition (null z-value) — same contract as a null sort
   * key anywhere else.
   */
  def zOrderedAuto(df: DataFrame, cols: Seq[String], nOut: Int, bits: Int = 16): DataFrame = {
    import org.apache.spark.sql.functions.{floor, greatest, least}
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"lo_$c"),
      max(col(c)).cast("double").as(s"hi_$c")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val top = (1L << bits) - 1
    // an empty frame or an all-null column yields null stats: getAs
    // would NPE unboxing — degrade to a [0,1] span (quantization of
    // nothing / of nulls is harmless; null inputs stay null z-values)
    def stat(name: String, dflt: Double): Double =
      if (r.isNullAt(r.fieldIndex(name))) dflt else r.getAs[Double](name)
    val qcols = cols.map { c =>
      val lo = stat(s"lo_$c", 0.0)
      val hi = stat(s"hi_$c", 1.0)
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      val scaled = (col(c).cast("double") - lit(lo)) / lit(span) * lit(top.toDouble)
      least(lit(top), greatest(lit(0L), floor(scaled).cast("long")))
    }
    val zvCol = s"_zv_${java.util.UUID.randomUUID().toString.take(8)}"
    df.withColumn(zvCol, zValue(qcols, bits))
      .repartitionByRange(nOut, col(zvCol))
      .sortWithinPartitions(col(zvCol))
      .drop(zvCol)
  }

  /**
   * Per-file column statistics — the zone map / manifest a lake table
   * format maintains as metadata, computed here from the data in ONE
   * scan grouped by file: one output row per data file with its row
   * count and min/max of each stats column. Together with a clustered
   * layout (`compact(sortCols)` / [[zOrdered]]) this is what turns a
   * range predicate into file-level skips decided BEFORE any scan
   * task launches; standalone it is the audit that a table's declared
   * clustering actually holds.
   */
  def statsManifest(df: DataFrame, statsCols: Seq[String]): DataFrame = {
    require(statsCols.nonEmpty, "statsManifest needs at least one stats column")
    val aggs = count(lit(1)).as("n_rows") +:
      statsCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** Data-skipping file selection: the paths whose [min, max] range
    * for `statCol` intersects [lo, hi]. The manifest is FILE-count
    * sized, so collecting the surviving paths is the same
    * metadata-scale operation scan planning itself performs — never
    * data-sized. Files with a null min/max (all-null column) cannot
    * hold a row in a non-null range and are skipped. */
  def prunedPaths(manifest: DataFrame, statCol: String,
                  lo: org.apache.spark.sql.Column,
                  hi: org.apache.spark.sql.Column): Seq[String] =
    manifest.filter(col(s"max_$statCol") >= lo && col(s"min_$statCol") <= hi)
      .select("file").collect().map(_.getString(0)).toSeq

  /** Manifest-driven skipping read over a clustered directory: load
    * only the files whose stats admit rows in [lo, hi], then re-apply
    * the predicate (skipping selects FILES; rows inside a surviving
    * file still need the row-level filter). Result == a full scan
    * with the same predicate, by construction — the manifest only
    * ever drops files whose whole range misses. An empty selection
    * degrades to a footer-only read of the root so the schema (and
    * the empty result) stay correct.
    *
    * STALENESS is detected, not tolerated: a data file present under
    * `root` but absent from the manifest (an append since the
    * manifest was written) would be silently skipped whatever the
    * predicate — wrong answers with no error — so the file sets are
    * cross-checked (one directory listing, the same metadata cost
    * scan planning pays) and a stale manifest fails loudly. */
  def skippingRead(spark: SparkSession, root: String, manifest: DataFrame,
                   statCol: String,
                   lo: org.apache.spark.sql.Column,
                   hi: org.apache.spark.sql.Column,
                   format: String = "parquet"): DataFrame = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = dataFiles(fs, rootPath).map(_.getPath.getName).toSet
    // the check + prune read the manifest twice — persist so a
    // freshly-COMPUTED manifest (a scan over the data) runs once
    val m = manifest.persist()
    val paths =
      try {
        // basenames, not full URIs: input_file_name records a file:
        // URI while listings may carry a bare path; part-file names
        // are unique within a directory
        val manifested = m.select("file").collect()
          .map(r => new Path(r.getString(0)).getName).toSet
        val unmanifested = live -- manifested
        require(unmanifested.isEmpty,
          s"manifest for $root is STALE: ${unmanifested.size} data file(s) it does not " +
            s"cover (e.g. ${unmanifested.take(3).mkString(", ")}) — rewrite the manifest " +
            "(MANIFEST_DESTINATION / statsManifest) after appends or rewrites")
        prunedPaths(m, statCol, lo, hi)
      } finally m.unpersist()
    if (paths.isEmpty)
      spark.read.format(format).load(root).filter(lit(false))
    else
      spark.read.format(format).load(paths: _*)
        .filter(col(statCol) >= lo && col(statCol) <= hi)
  }

  /**
   * Per-file BLOOM membership manifest — the equality-predicate
   * complement of [[statsManifest]]'s min/max zone maps. A min/max
   * range says nothing when files are NOT clustered on the probe
   * column (every file's range spans the domain, zero skips); a
   * per-file Bloom filter answers "might this file contain key k?"
   * regardless of layout, so point lookups skip to the handful of
   * files whose filters fire (false-positive files are read and
   * yield nothing — never a wrong answer, only a wasted open).
   *
   * Built in ONE scan grouped by file via Spark's native
   * `BloomFilterAggregate` (the same sketch the runtime-filter
   * optimizer injects for shuffle pruning — a TypedImperativeAggregate,
   * so partial filters merge map-side). Keys are xxhash64'd to LongType
   * first: that keeps the aggregate's input contract uniform across
   * key types and makes the driver-side probe a `mightContainLong`.
   * Manifest size: numBits/8 bytes per file (~120 KB at the defaults)
   * — table-format metadata scale, file-count-sized rows.
   */
  def bloomManifest(df: DataFrame, keyCol: String,
                    expectedPerFile: Long = 100000L, fpp: Double = 0.01): DataFrame =
    bloomManifest(df, Seq(keyCol), expectedPerFile, fpp)

  /** Multi-column form: one scan, one `bloom_<col>` filter per key
    * column — the shape the MANIFEST_DESTINATION job step persists. */
  def bloomManifest(df: DataFrame, keyCols: Seq[String],
                    expectedPerFile: Long, fpp: Double): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    require(keyCols.nonEmpty, "bloomManifest needs at least one key column")
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedPerFile, fpp)
    val aggs = count(lit(1)).as("n_rows") +: keyCols.map { c =>
      val agg = new BloomFilterAggregate(
        GraftSqlBridge.expression(org.apache.spark.sql.functions.xxhash64(col(c))),
        Literal(expectedPerFile), Literal(numBits))
      GraftSqlBridge.column(agg.toAggregateExpression()).as(s"bloom_$c")
    }
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
  }

  /** xxhash64 of a probe literal, evaluated driver-side through the
    * SAME expression the manifest build hashed data rows with — the
    * two can never drift. */
  private def probeHash(value: Any): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    // the same XxHash64(seed=42) the Column-API xxhash64 resolves to;
    // built directly so it is evaluable without an analyzer pass
    new XxHash64(Seq(Literal(value))).eval(null).asInstanceOf[Long]
  }

  /** Files whose Bloom filter might contain ANY of the probe values.
    * The manifest is file-count-sized, so deserializing each filter
    * on the driver is the same metadata-scale work scan planning
    * performs; no false negatives, so the selection can only ADD
    * files beyond the true homes, never lose one. */
  def bloomPrunedPaths(manifest: DataFrame, keyCol: String, values: Seq[Any]): Seq[String] = {
    val hashes = values.map(probeHash)
    manifest.select(col("file"), col(s"bloom_$keyCol")).collect().toSeq
      .filter { r =>
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(r.getAs[Array[Byte]](1))
        hashes.exists(bf.mightContainLong)
      }
      .map(_.getString(0))
  }

  /** Bloom-manifest point-lookup read: load only the files whose
    * filter fires for one of the probe keys, then re-apply the
    * row-level IN predicate (a Bloom selects FILES; false-positive
    * files still carry no matching rows past the filter). Result ==
    * full scan + same predicate by construction. Staleness is
    * detected exactly as in [[skippingRead]]: a data file the
    * manifest does not cover fails loudly instead of being silently
    * skipped. */
  def bloomSkippingRead(spark: SparkSession, root: String, manifest: DataFrame,
                        keyCol: String, values: Seq[Any],
                        format: String = "parquet"): DataFrame = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = dataFiles(fs, rootPath).map(_.getPath.getName).toSet
    val m = manifest.persist()
    val paths =
      try {
        val manifested = m.select("file").collect()
          .map(r => new Path(r.getString(0)).getName).toSet
        val unmanifested = live -- manifested
        require(unmanifested.isEmpty,
          s"bloom manifest for $root is STALE: ${unmanifested.size} data file(s) it does not " +
            s"cover (e.g. ${unmanifested.take(3).mkString(", ")}) — rebuild the manifest " +
            "after appends or rewrites")
        bloomPrunedPaths(m, keyCol, values)
      } finally m.unpersist()
    val inList = values.map(v => lit(v))
    if (paths.isEmpty)
      spark.read.format(format).load(root).filter(lit(false))
    else
      spark.read.format(format).load(paths: _*)
        .filter(col(keyCol).isin(inList: _*))
  }

  /**
   * Incremental zone-map maintenance: scan ONLY the data files the
   * old manifest does not cover (appends since it was written), and
   * drop rows for files that no longer exist (compaction/merge
   * rewrites). Result == a full [[statsManifest]] rebuild over the
   * current directory — pinned by unit test — but the scan cost is
   * proportional to the APPENDED data, not the table. This is how a
   * table format actually maintains its metadata at 100 TB: the full
   * rebuild is a disaster-recovery path, not the steady state.
   */
  def statsManifestIncremental(spark: SparkSession, root: String,
                               oldManifest: DataFrame, statsCols: Seq[String],
                               format: String = "parquet"): DataFrame = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = dataFiles(fs, rootPath)
    val liveNames = live.map(_.getPath.getName).toSet
    val kept = oldManifest.filter(
      udfFreeBasenameIn(col("file"), liveNames))
    val knownNames = oldManifest.select("file").collect()
      .map(r => new Path(r.getString(0)).getName).toSet
    val freshPaths = live.filterNot(f => knownNames(f.getPath.getName))
      .map(_.getPath.toString)
    if (freshPaths.isEmpty) kept
    else kept.unionByName(
      statsManifest(spark.read.format(format).load(freshPaths: _*), statsCols))
  }

  /** `basename(file) IN names` as a pure Column expression (no UDF):
    * element_at on a reversed split isolates the basename. */
  private def udfFreeBasenameIn(file: org.apache.spark.sql.Column,
                                names: Set[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{element_at, reverse, split}
    if (names.isEmpty) lit(false)
    else element_at(reverse(split(file, "/")), 1).isin(names.toSeq: _*)
  }

  /** Predicate shapes the manifest dispatcher understands. */
  sealed trait SkipPredicate
  /** `col BETWEEN lo AND hi` — served by the min/max zone maps. */
  final case class RangePred(col: String, lo: Any, hi: Any) extends SkipPredicate
  /** `col IN (values...)` — served by the per-file Bloom filters. */
  final case class EqualityPred(col: String, values: Seq[Any]) extends SkipPredicate

  /** Manifest dispatcher: route a predicate to the pruning structure
    * that can actually serve it — ranges to the `_manifest` zone
    * maps, point lookups to the `_bloom_manifest` filters — reading
    * whichever hidden child exists beside `root`. This is the scan
    * entry a table format exposes as one "read with predicate" call;
    * a predicate whose manifest is absent falls back to a plain
    * filtered scan (correct, just unpruned) rather than failing —
    * file-skipping is an optimization, never a requirement. */
  def autoSkippingRead(spark: SparkSession, root: String, pred: SkipPredicate,
                       format: String = "parquet"): DataFrame = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def child(name: String): Option[DataFrame] = {
      val p = new Path(root, name)
      if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }
    pred match {
      case RangePred(c, lo, hi) =>
        child("_manifest") match {
          case Some(m) if m.columns.contains(s"min_$c") =>
            skippingRead(spark, root, m, c, lit(lo), lit(hi), format)
          case _ =>
            spark.read.format(format).load(root)
              .filter(col(c) >= lit(lo) && col(c) <= lit(hi))
        }
      case EqualityPred(c, vs) =>
        child("_bloom_manifest") match {
          case Some(m) if m.columns.contains(s"bloom_$c") =>
            bloomSkippingRead(spark, root, m, c, vs, format)
          case _ =>
            spark.read.format(format).load(root)
              .filter(col(c).isin(vs.map(lit(_)): _*))
        }
    }
  }

  /** The rewrite frame `compact` writes: shuffle-FREE `coalesce` for
    * pure compaction, or exactly one range exchange + in-partition
    * sort when clustering. `coalesce` can only MERGE partitions —
    * when the target file count exceeds what the scan produced
    * (splitting oversized files, not merging small ones), honoring
    * the contract needs one round-robin shuffle, so that case plans
    * `repartition` instead. Factored out so plan-shape tests assert
    * on the exact frame the operator executes. */
  def compactionPlan(df: DataFrame, nOut: Int, sortCols: Seq[String]): DataFrame =
    if (sortCols.nonEmpty)
      df.repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    else if (df.rdd.getNumPartitions < nOut) df.repartition(nOut)
    else df.coalesce(nOut)

  /**
   * Remove commit leftovers around `dest`: sibling staging and aside
   * directories of this destination, in any naming `Commit` writes or
   * recognises (`_<dest>_stage_<8hex>`, `_<dest>_old_<8hex>`, the
   * earlier builds' `_merge_`/`_compact_`/`_load_`/`_dedup_`/`_anon_`/
   * `_wap_` staging markers, hidden or legacy visible), whose
   * modification time is older than `olderThanMs`. Runs ONLY when
   * `dest` itself exists — with the destination missing, an `_old_`
   * sibling may be the only surviving copy of the data (a publish died
   * between its renames); `Commit.repair` restores it.
   * Age-gating protects freshly WRITTEN staging dirs; it cannot
   * protect an in-flight swap's `_old_` rollback dir, because rename
   * preserves the directory's old mtime — so `dest` existence is
   * re-checked immediately before each `_old_` delete (a swap in its
   * rename window has `dest` absent), and like the merge step itself
   * this operation assumes one maintainer per destination at a time.
   * The artifact patterns are a RESERVED namespace next to a managed
   * destination: do not hand-create sibling dirs named
   * `[_]<dest>_(old|stage|merge|compact|load|dedup|anon|wap)_<8hex>` —
   * vacuum will treat them as commit leftovers. Returns the names of directories actually
   * deleted.
   */
  def vacuum(fs: FileSystem, dest: Path, olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    if (!fs.exists(dest)) return Nil
    val parent = dest.getParent
    if (parent == null || !fs.exists(parent)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMs
    fs.listStatus(parent).toSeq
      .filter { st =>
        st.isDirectory && st.getModificationTime < cutoff &&
          Commit.leftover(st.getPath.getName).exists(_._1 == dest.getName)
      }
      .filter { st =>
        val isRollback = Commit.leftover(st.getPath.getName).exists(_._2)
        (!isRollback || fs.exists(dest)) && fs.delete(st.getPath, true)
      }
      .map(_.getPath.getName)
  }
}
