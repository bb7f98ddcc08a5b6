package graft.operators

import graft.operators.Checkpoints.Checkpointed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, NumericType, StructField, StructType, TimestampType}

/**
 * Scalable window ranking for LOW-CARDINALITY partition keys.
 *
 * `rank() OVER (PARTITION BY p ORDER BY k)` hash-distributes on `p`:
 * with 3 distinct partition values, a 1000-executor cluster sorts the
 * entire table in 3 tasks — the classic window bottleneck at scale.
 * This operator computes the same six ranking functions with
 * parallelism `|p| × buckets` instead of `|p|`:
 *
 *   phase 0  per-`p` approximate quantiles of the leading sort key
 *            become bucket boundaries — a tiny (|p| rows) aggregate,
 *            collected once as plan metadata (like IVF centroids) so
 *            BOTH consumers of the bucketed subtree see the exact
 *            same boundaries (re-executing an approximate sketch in
 *            two lineages could otherwise disagree when exchange
 *            reuse is off);
 *   phase 1  each row gets a bucket from the boundaries (a pure
 *            map-side array scan), then ranks LOCALLY inside
 *            (p, bucket) — the only full-data shuffle, on a key of
 *            cardinality |p| × buckets;
 *   phase 2  per-(p, bucket) row/distinct-key counts (reuses phase
 *            1's partitioning — no extra full-data exchange) prefix-
 *            sum into offsets on metadata-sized data, broadcast-join
 *            back, and local ranks shift into global ones.
 *
 * Correctness of the split: a bucket is a function of the leading
 * sort-key VALUE (boundaries compare with strict `<`), so tied keys
 * can never straddle a bucket boundary — rank arithmetic composes
 * exactly, and approximation in the quantile sketch skews only bucket
 * SIZES, never results. Equality with the single-window form is
 * pinned by RankingSpec and the window_rank_scalable oracle.
 *
 * NULL semantics match the plain window: NULL partition values form
 * their own partition (null-safe joins throughout), and NULL leading
 * keys rank first (they route to a reserved bucket that sorts before
 * every boundary bucket — Spark ASC is NULLS FIRST).
 *
 * The leading sort key must be numeric or timestamp (boundaries are
 * compared in DOUBLE — the cast is monotonic, so equal keys stay
 * equal and order never flips; precision loss can only skew bucket
 * sizes, never results). Remaining `orderCols` are arbitrary. Ties on
 * the FULL key make row_number nondeterministic (as with any window
 * row_number) — use a unique composite key when determinism matters.
 */
object Ranking {

  /**
   * Adds `rank`, `dense_rank`, `row_number`, `percent_rank`,
   * `cume_dist` (and `ntile` when `ntiles` is set) over
   * `PARTITION BY partCol ORDER BY orderCols`.
   */
  def segmentedRanks(df: DataFrame, partCol: String, orderCols: Seq[String],
                     buckets: Int = 32, ntiles: Option[Int] = None): DataFrame = {
    require(orderCols.nonEmpty, "at least one order column")
    require(buckets >= 1, "buckets must be >= 1")
    val k1 = orderCols.head
    val k1Type = df.schema(k1).dataType
    require(k1Type.isInstanceOf[NumericType] || k1Type == TimestampType,
      s"leading sort column must be numeric or timestamp for boundary " +
        s"bucketing, got $k1Type — put a numeric key first in orderCols")
    val pType = df.schema(partCol).dataType

    // phase 0: boundaries per partition value, from a SAMPLE — the
    // same move as Spark's own RangePartitioner. Boundaries influence
    // only bucket SIZES, never results (bucket membership is a pure
    // function of the key value), so a cheap sketch over ~5% of rows
    // is enough; groups the sample misses entirely fall back to one
    // bucket. Collected to the driver as METADATA (|p| rows for a
    // low-cardinality key — same contract as collecting IVF
    // centroids) and re-created as a literal-backed DataFrame: one
    // execution of the approximate sketch, one truth.
    val pcts = (1 until buckets).map(_.toDouble / buckets).toArray
    val bucketed =
      if (buckets == 1) df.withColumn("_bkt", lit(0))
      else {
        val boundRows = df
          .sample(withReplacement = false, 0.05, seed = 42)
          .groupBy(col(partCol).as("_bp"))
          .agg(percentile_approx(col(k1).cast("double"), lit(pcts), lit(1000)).as("_bs"))
          .collect()
        val schema = StructType(Seq(
          StructField("_bp", pType, nullable = true),
          StructField("_bs", ArrayType(DoubleType), nullable = true)))
        val bounds = df.sparkSession.createDataFrame(
          java.util.Arrays.asList(boundRows: _*), schema)
        // phase 1: bucket assignment is a map-side codegen scan of
        // <=31 boundary values (graft ArrayCountLess — the HOF
        // filter() form runs interpreted); strict `<` keeps every tie
        // of the leading key in ONE bucket, which is what makes the
        // offset arithmetic exact. NULL keys take the reserved bucket
        // -1 (ranks first, like the window's NULLS FIRST); rows of a
        // group the sample never saw (left join misses, or an
        // all-null sample slice) collapse into bucket 0. The join is
        // null-safe so NULL partition values keep their rows.
        df.join(broadcast(bounds), col(partCol) <=> col("_bp"), "left")
          .withColumn("_bkt",
            when(col(k1).isNull, lit(-1))
              .otherwise(coalesce(graft.functions.ArrayCountLess.countLess(
                col("_bs"), col(k1).cast("double")), lit(0))))
          .drop("_bp", "_bs")
      }

    val ord = orderCols.map(col)
    val wLocal = Window.partitionBy(col(partCol), col("_bkt")).orderBy(ord: _*)
    // descending rank in the SAME window clustering (one more sort,
    // zero extra shuffles) gives the rank-of-last-peer that cume_dist
    // needs: rows<=key locally = n_bucket - rank_desc + 1
    val wLocalDesc = Window.partitionBy(col(partCol), col("_bkt"))
      .orderBy(ord.map(_.desc_nulls_last): _*)
    val keyStruct = struct(ord: _*)
    val local = bucketed
      .withColumn("_lrn", row_number().over(wLocal))
      .withColumn("_lrk", rank().over(wLocal))
      .withColumn("_ldr", dense_rank().over(wLocal))
      .withColumn("_lrkd", rank().over(wLocalDesc))

    // phase 2: offsets, aggregated from `bucketed` (NOT from the
    // window output — the ranks aren't needed for counts, and taking
    // the pre-window subtree keeps the shared scan's second execution
    // a cheap partial-agg instead of a re-sorted window).
    val stats = bucketed.groupBy(col(partCol).as("_op"), col("_bkt").as("_obkt"))
      .agg(count(lit(1)).as("_n"), countDistinct(keyStruct).as("_nk"))
    // Exclusive prefix offsets via a broadcast TRIANGULAR self-join
    // over the |p| x buckets stats rows — metadata-sized by
    // construction, so the quadratic-in-buckets join is bounded and,
    // unlike a window over the same rows, survives a CONSTANT
    // partition key: FoldablePropagation folds a literal partCol out
    // of a window's partitionSpec, turning the offsets window into
    // the single-partition sort Spark WARNs about (the one the
    // global-rank caller with _g = lit(0) hits). A join has no
    // partitionSpec to lose.
    val statsB = stats.select(col("_op").as("_bp2"), col("_obkt").as("_bk2"),
      col("_n").as("_n2"), col("_nk").as("_nk2"))
    val offs = stats.join(broadcast(statsB), col("_op") <=> col("_bp2"))
      .groupBy(col("_op"), col("_obkt"), col("_n"))
      .agg(
        sum(when(col("_bk2") < col("_obkt"), col("_n2")).otherwise(0L)).as("_off"),
        sum(when(col("_bk2") < col("_obkt"), col("_nk2")).otherwise(0L)).as("_doff"),
        sum(col("_n2")).as("_tot"))

    val joined = local.join(broadcast(offs),
      col(partCol) <=> col("_op") && col("_bkt") === col("_obkt"))
    val rn = col("_off") + col("_lrn")
    val base = joined
      .withColumn("rank", col("_off") + col("_lrk"))
      .withColumn("dense_rank", col("_doff") + col("_ldr"))
      .withColumn("row_number", rn)
      .withColumn("percent_rank",
        when(col("_tot") === 1L, 0.0)
          .otherwise((col("rank") - 1L).cast("double") / (col("_tot") - 1L)))
      .withColumn("cume_dist",
        (col("_off") + col("_n") - col("_lrkd") + 1L).cast("double") / col("_tot"))
    val tiled = ntiles match {
      case None => base
      case Some(n) =>
        // exact NTILE: first (tot % n) tiles get (tot div n)+1 rows.
        // Integer division via floor over doubles — counts stay far
        // under 2^53, so the double quotient is exact.
        def idiv(a: Column, b: Column) = floor(a / b).cast("long")
        val q = idiv(col("_tot"), lit(n.toLong))
        val r = col("_tot") % n
        val cut = r * (q + 1L)
        base.withColumn("ntile",
          when(q === 0L, rn) // fewer rows than tiles: tile == row_number
            .when(rn <= cut, idiv(rn - 1L, q + 1L) + 1L)
            .otherwise(r + idiv(rn - cut - 1L, q) + 1L))
    }
    tiled.drop("_bkt", "_lrn", "_lrk", "_ldr", "_lrkd",
      "_op", "_obkt", "_n", "_off", "_doff", "_tot")
  }

  /**
   * Per-(group, value) CUMULATIVE WEIGHTS for rank-defined group
   * percentiles over fact-sized relations with low-cardinality
   * groups — the primitive behind `value at rank ceil(q·n)` /
   * `smallest value whose cumulative weight reaches W` reports.
   *
   * The naive form — `sum(w) OVER (PARTITION BY g ORDER BY v ROWS
   * UNBOUNDED PRECEDING)` — hash-distributes on `g`: with 3-5 group
   * values a 1000-executor cluster sorts the whole fact table in 3-5
   * tasks. Here the only full-data shuffle is the partial-aggregating
   * `groupBy(g, v)` — keyed by the HIGH-cardinality (g, v) pair — and
   * every window afterwards runs over value-level rows (|g| ×
   * |distinct v|, bounded by the value DOMAIN, not the row count):
   *
   *   phase 1  `groupBy(g, v).agg(sum(w))` with map-side combine —
   *            the one fact-sized exchange, well-keyed;
   *   band     `floor(v / bandWidth)` — a STATIC band (no sampling
   *            job, so the upstream plan executes exactly once, and
   *            no boundary collect on the driver). Band membership
   *            is a pure function of the value, so tied values never
   *            straddle a band and the width influences only band
   *            SIZES, never results — pick it from the value DOMAIN
   *            (which is bounded by semantics: days, seconds of
   *            span, cents), not the row count;
   *   phase 2  per-(g, band) totals prefix-sum into exclusive band
   *            offsets (a |g|×bands metadata window), join back on
   *            (g, band), and a band-local running sum completes the
   *            exact global cumulative: cum(v) = band offset + local.
   *
   * Output: `groupCols :+ valueCol :+ (cum_w, tot_w)` — one row per
   * distinct (group, value); `cum_w` = total weight of rows with
   * value <= v in the group, `tot_w` = the group total. The caller
   * resolves rank-defined picks declaratively, e.g. the rank-r
   * smallest value is `min(v) FILTER (WHERE cum_w >= r)` and a
   * weighted median is `min(v) FILTER (WHERE 2*cum_w >= tot_w)` —
   * both monotone in `v`, so a conditional min is exact.
   *
   * NULL values rank first (reserved band Long.MinValue, matching Spark's ASC
   * NULLS FIRST) and keep their group's rows counted; NULL group
   * values form their own group (null-safe join). The value column
   * must be numeric (band comparison is in DOUBLE — monotonic, so
   * equal values stay equal and order never flips).
   */
  def groupedCumWeights(df: DataFrame, groupCols: Seq[String],
                        valueCol: String, weight: Column,
                        bandWidth: Double): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(bandWidth > 0.0, "bandWidth must be positive")
    val vType = df.schema(valueCol).dataType
    require(vType.isInstanceOf[NumericType] || vType == TimestampType,
      s"value column must be numeric or timestamp, got $vType")
    val g = groupCols.map(col)
    // materialize the counts table ONCE: three consumers (band
    // assignment, band totals, the final window) would otherwise
    // re-execute the fact scan + keyed aggregate per lineage (AQE's
    // exchange reuse recovers only part of it — measured 6 scans in
    // the executed cycle-time plan). The table is value-level —
    // bounded by |groups| x |value domain|, the same contract that
    // makes phase 2 metadata — so the checkpoint is domain-sized,
    // never fact-sized. (As with the repo's other checkpointed
    // operators: on a multi-executor cluster prefer reliable
    // checkpoint() if executor loss mid-query must be survivable.)
    val counts = df
      .groupBy((g :+ col(valueCol)): _*)
      .agg(sum(weight).as("_w"))
      .checkpointed()
    // NULL values take the reserved band Long.MinValue so NO value
    // band can sort before them (a band of -1 would order AFTER a
    // negative value's band — caught by the PropertySpec reference
    // check). If an extreme value's band saturates onto the same
    // Long.MinValue, the within-band window below still ranks nulls
    // first (Spark ASC NULLS FIRST), so the cumulative stays exact.
    val banded = counts.withColumn("_band",
      when(col(valueCol).isNull, lit(Long.MinValue))
        .otherwise(floor(col(valueCol).cast("double") / bandWidth)))
    // phase 2: exclusive band offsets over |g| × bands metadata rows
    val bandTot = banded
      .groupBy((groupCols.map(c => col(c).as("_g_" + c)) :+ col("_band").as("_bb")): _*)
      .agg(sum("_w").as("_bw"))
    val gAlias = groupCols.map(c => col("_g_" + c))
    val wOff = Window.partitionBy(gAlias: _*).orderBy(col("_bb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bandTot
      .withColumn("_boff", coalesce(sum("_bw").over(wOff), lit(0L)))
      .withColumn("tot_w", sum("_bw").over(Window.partitionBy(gAlias: _*)))
      .drop("_bw")
    val joinCond = groupCols.map(c => col(c) <=> col("_g_" + c))
      .reduce(_ && _) && col("_band") === col("_bb")
    val wIn = Window.partitionBy((g :+ col("_band")): _*).orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the offsets table is |groups| x bands — bounded by the CALLER's
    // bandWidth choice. No forced broadcast hint and no eager count
    // gate here: this is a lazy plan builder (a construction-time
    // count() would run a job even if the caller never executes the
    // result), and AQE sees the offsets side's ACTUAL post-shuffle
    // size at runtime, converting to broadcast when it fits and
    // degrading safely when a mis-chosen bandWidth blows the domain
    // up — the exact behavior the old row-count gate approximated.
    banded.join(offs, joinCond)
      .withColumn("cum_w", col("_boff") + sum("_w").over(wIn))
      .select((g :+ col(valueCol) :+ col("cum_w") :+ col("tot_w")): _*)
  }

  /**
   * EXACT interpolated quantile (SQL percentile_cont semantics:
   * position (n−1)·q, linear interpolation) without a global sort and
   * without holding values in memory — the scalable form of exact
   * order statistics. Spark's built-in `percentile` aggregates a
   * value→count map per group (memory-bound on high-cardinality
   * columns); a global ORDER BY materializes everything. Instead:
   *
   *   1. sampled boundaries split the value range into buckets
   *      (map-side codegen assignment, same as segmentedRanks);
   *   2. one tiny aggregation counts rows per bucket (`buckets` rows
   *      collected — metadata);
   *   3. only the bucket(s) containing the target rank(s) are probed:
   *      a TakeOrdered of at most the local rank depth, never a
   *      full-data sort.
   *
   * Null values are excluded (SQL convention). Returns None on an
   * empty/all-null column. Exactness: bucket membership is a pure
   * function of the value, counts are exact, and the within-bucket
   * probe is exact — sampling skews only probe-bucket SIZE.
   */
  def exactQuantile(df: DataFrame, valueCol: String, q: Double,
                    buckets: Int = 32,
                    probeLimit: Int = 1 << 17): Option[Double] =
    exactQuantiles(df, valueCol, Seq(q), buckets, probeLimit).head

  /**
   * Multi-quantile form: ALL requested quantiles share one count, one
   * boundary sample, and one bucket histogram — per extra quantile the
   * only added work is (at most) one bucket-sized probe. This is the
   * form a report query should call: q=(0.5, 0.9, 0.99) costs ~5 small
   * jobs total, not 3x the single-quantile pipeline.
   */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                     buckets: Int = 32,
                     probeLimit: Int = 1 << 17): Seq[Option[Double]] = {
    require(qs.forall(q => q >= 0.0 && q <= 1.0), "each q must be in [0, 1]")
    if (qs.isEmpty) return Seq.empty
    val v = col(valueCol).cast("double")
    val vals = df.filter(v.isNotNull).select(v.as("_v"))
    // one job for both counts — the NaN census rides the row count
    // (a separate isnan scan would add a full pass per call)
    val cnts = vals.agg(count(lit(1)).as("_n"),
      count(when(isnan(col("_v")), 1)).as("_nan")).head()
    val n = cnts.getLong(0)
    if (n == 0L) return qs.map(_ => None)
    // each quantile needs rank lo+1 and (when interpolating) lo+2
    val pos = qs.map(q => (n - 1) * q)
    val ranks = pos.flatMap { p =>
      val lo = math.floor(p).toLong
      if (p - lo == 0.0) Seq(lo + 1) else Seq(lo + 1, lo + 2)
    }.distinct.sorted
    val at = valuesAtRanks(vals, ranks, n, buckets, probeLimit,
      nNan = cnts.getLong(1))
    pos.map { p =>
      val lo = math.floor(p).toLong
      val frac = p - lo
      val vLo = at(lo + 1)
      Some(if (frac == 0.0) vLo else vLo + frac * (at(lo + 2) - vLo))
    }
  }

  /**
   * EXACT per-group interpolated quantile (SQL `percentile` semantics:
   * position (n−1)·q per group, linear interpolation, nulls excluded)
   * for QUANTIZED value domains — the scalable replacement for
   * `percentile(v, q) GROUP BY g`, whose aggregation buffer holds
   * every group value (one buffer ≈ |group| rows: at 100 TB a
   * 3-group median over lineitem puts a third of the table in a
   * single executor's memory). Here nothing ever holds more than one
   * (group, value) count:
   *
   *   1. `groupBy(g, v).count()` — full-data pass with map-side
   *      combine; output is |g| × |distinct v| rows. For a quantized
   *      domain (integral quantities, prices in cents, bucketed
   *      scores) that is metadata, independent of row count;
   *   2. cumulative counts over that metadata table (window
   *      partitioned by g — tiny), then the interpolated quantile is
   *      the pair of values whose cumulative count brackets
   *      (n−1)·q — a conditional min per group.
   *
   * Returns (groupCol, `out`) with one row per group — including
   * groups whose values are ALL null, which yield a null quantile
   * exactly like built-in `percentile()` (nulls are excluded from the
   * order statistics but never drop a group). NaN follows Spark SQL
   * ordering (greatest) consistently in both the window order and the
   * conditional min. NOT for continuous high-cardinality domains —
   * there `|g| × |distinct v|` approaches the table size; use
   * [[exactQuantiles]] (global) or quantize first.
   */
  def groupedCountingQuantile(df: DataFrame, groupCol: String,
                              valueCol: String, q: Double,
                              out: String = "quantile"): DataFrame = {
    require(q >= 0.0 && q <= 1.0, "q must be in [0, 1]")
    // null values stay in the counts table (so all-null groups keep a
    // row) but contribute 0 to every cumulative/total count
    val counts = df
      .groupBy(col(groupCol).as("_g"), col(valueCol).cast("double").as("_v"))
      .agg(count(lit(1)).as("_rows"))
      .withColumn("_c", when(col("_v").isNotNull, col("_rows")).otherwise(0L))
    // nulls order FIRST (Spark ASC default), so non-null rows' running
    // sums are unaffected by the null row's presence
    val wCum = Window.partitionBy("_g").orderBy("_v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("_g")
    // value at 0-based sorted index i = smallest _v with _cum >= i+1;
    // cumulative counts are monotone in _v, so the conditional min
    // resolves each bracket rank without a second pass
    val cum = counts
      .withColumn("_cum", sum("_c").over(wCum))
      .withColumn("_n", sum("_c").over(wAll))
      .withColumn("_p", lit(q) * (col("_n") - 1))
      .withColumn("_frac", col("_p") - floor(col("_p")))
    cum.groupBy(col("_g").as(groupCol))
      .agg(
        min(when(col("_v").isNotNull && col("_cum") >= floor(col("_p")) + 1,
          col("_v"))).as("_vlo"),
        min(when(col("_v").isNotNull && col("_cum") >= ceil(col("_p")) + 1,
          col("_v"))).as("_vhi"),
        first(col("_frac")).as("_f"),
        max(col("_n")).as("_nn"))
      .select(col(groupCol),
        when(col("_nn") === 0L, lit(null).cast("double"))
          .otherwise(col("_vlo") + col("_f") * (col("_vhi") - col("_vlo"))).as(out))
  }

  /** Resolves a SORTED batch of 1-based ranks. `probeLimit`: a slice
    * at most this large is resolved by ONE bounded sorted collect
    * (<= probeLimit doubles = 1 MB driver memory at the default);
    * larger slices re-bucket recursively, and each target bucket is
    * probed for all its ranks at once — so the job count is
    * O(log_buckets(n) + distinct target buckets), independent of how
    * many ranks land together. */
  private def valuesAtRanks(vals: DataFrame, ranks: Seq[Long], total: Long,
                            buckets: Int, probeLimit: Int,
                            nNan: Long = -1L): Map[Long, Double] = {
    if (ranks.isEmpty) return Map.empty
    if (total <= probeLimit) {
      // bounded: total (hence every rank) fits Int and <= probeLimit;
      // orderBy uses Spark SQL ordering (NaN greatest) — NaN-safe
      val kmax = java.lang.Math.toIntExact(ranks.max)
      val arr = vals.orderBy("_v").limit(kmax).collect()
      return ranks.map(r => r -> arr(java.lang.Math.toIntExact(r) - 1).getDouble(0)).toMap
    }
    // Spark SQL orders NaN GREATEST, but the bucketing kernel compares
    // with Java semantics (no boundary is < NaN, so NaN would land in
    // bucket 0 — the BOTTOM), shifting every later rank by one. Peel
    // the NaN class once; everything below runs NaN-free, where Java
    // and SQL orderings agree (±Inf inclusive). The caller passes the
    // census (it rides exactQuantiles' count job); -1 = unknown.
    val nanCount = if (nNan >= 0) nNan else vals.filter(isnan(col("_v"))).count()
    if (nanCount > 0) {
      val loRanks = ranks.filter(_ <= total - nanCount)
      val lows =
        if (loRanks.isEmpty) Map.empty[Long, Double]
        else valuesAtRanks(vals.filter(!isnan(col("_v"))), loRanks,
          total - nanCount, buckets, probeLimit, nNan = 0L)
      return ranks.map(r => r -> (if (r > total - nanCount) Double.NaN else lows(r))).toMap
    }
    // bucket on the given boundaries and recurse per target bucket;
    // None when everything landed in one bucket (no shrink)
    def walk(bs: Seq[Double]): Option[Map[Long, Double]] = {
      val bucketed = vals.withColumn("_bkt",
        if (bs.isEmpty) lit(0)
        else graft.functions.ArrayCountLess.countLess(lit(bs.toArray), col("_v")))
      // bucket histogram: <= `buckets` rows of metadata
      val hist = bucketed.groupBy("_bkt").agg(count(lit(1)).as("_n"))
        .collect().map(row => row.getInt(0) -> row.getLong(1)).sortBy(_._1)
      if (hist.length <= 1) return None
      // walk the histogram once, grouping ranks into their buckets
      var cum = 0L
      var pending = ranks
      var out = Map.empty[Long, Double]
      hist.foreach { case (b, c) =>
        val (inB, rest) = pending.span(_ <= cum + c)
        if (inB.nonEmpty) {
          val local = valuesAtRanks(
            bucketed.filter(col("_bkt") === b).select("_v"),
            inB.map(_ - cum), c, buckets, probeLimit, nNan = 0L)
          val base = cum
          out ++= inB.map(r => r -> local(r - base))
        }
        pending = rest
        cum += c
      }
      Some(out)
    }
    val pcts = (1 until buckets).map(_.toDouble / buckets).toArray
    val bsRow = vals.sample(withReplacement = false, 0.05, seed = 42)
      .agg(percentile_approx(col("_v"), lit(pcts), lit(1000)).as("_bs"))
      .head()
    val sampled: Seq[Double] =
      if (bsRow.isNullAt(0)) Seq.empty else bsRow.getSeq[Double](0).distinct
    walk(sampled).getOrElse {
      // degenerate: the SAMPLED boundaries collapsed. Re-bucket on exact
      // min/max instead of collecting — a stray directProbe here would
      // pull up to ranks.max rows to the driver, unbounded.
      val mm = vals.agg(min("_v"), max("_v")).head()
      val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
      // Peel the exact lo/hi value classes off with two bounded counts
      // and recurse on the strictly-interior remainder. Covers every
      // case an equi-width grid cannot: adjacent doubles (empty
      // interior) and ±Inf extremes (they poison step/boundaries to
      // non-finite; NaN never reaches here — stripped above). Each
      // peel removes >= 1 row per end and the interior gains finite
      // bounds within a level, so the grid (or the bounded probe)
      // takes over.
      def peel(): Map[Long, Double] = {
        val nLo = vals.filter(col("_v") === lo).count()
        val nHi = vals.filter(col("_v") === hi).count()
        val midRanks = ranks.filter(r => r > nLo && r <= total - nHi)
        val mid =
          if (midRanks.isEmpty) Map.empty[Long, Double]
          else valuesAtRanks(vals.filter(col("_v") > lo && col("_v") < hi),
            midRanks.map(_ - nLo), total - nLo - nHi, buckets, probeLimit,
            nNan = 0L)
        ranks.map { r =>
          r -> (if (r <= nLo) lo
                else if (r > total - nHi) hi
                else mid(r - nLo))
        }.toMap
      }
      if (lo == hi) ranks.map(_ -> lo).toMap
      else {
        // equi-width boundaries strictly inside (lo, hi): lo lands in
        // bucket 0 and hi in a later bucket, so walk() is guaranteed
        // >= 2 buckets and the recursion strictly shrinks.
        // step computed overflow-safe (hi - lo may exceed MaxValue);
        // a non-finite lo/hi poisons the grid to empty -> peel.
        val step = hi / buckets - lo / buckets
        val exact = (1 until buckets).map(i => lo + i * step)
          .filter(b => b > lo && b < hi).distinct
        if (exact.nonEmpty) walk(exact).getOrElse(peel()) else peel()
      }
    }
  }
}
