package graft

import graft.operators.Checkpoints.Checkpointed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * MEASURED recall / error gates for the approximate retrieval and
 * aggregation families at PRODUCTION parameters (VERDICT r15 next #2).
 *
 * The `no_oracle` production forms (`sim_ann_topk` nProbe/hamming,
 * `sim_ivf_topk` nProbe=4, `sim_pq_topk` ADC shortlist,
 * `sim_ivfpq_topk` nProbe=4, `agg_approx_distinct`,
 * `agg_approx_percentile`) are pinned EXACT only under degenerate
 * parameters by their exhaustive twins; nothing measured the quality
 * a 100 TB operator actually tunes nProbe/bands/shortlist against.
 * Each gate here runs the approximate kernel at its production
 * parameters over a 20-probe batch, computes recall@10 against the
 * in-plan exhaustive top-k (same metric, same tie-break, same
 * self-exclusion convention on both sides), REQUIREs a floor — the
 * layout_stats_skipping loud-failure idiom, since DuckDB cannot
 * replay the kernels — and emits one (family, n_probes, k,
 * recall_permille) row. The agg gates emit per-group
 * (exact, approx, err_permille) rows with the same REQUIRE discipline.
 *
 * Floors sit WELL BELOW the values measured at sf0.001/sf0.01
 * (RecallSpec pins the measured numbers; SCALE recall shows them
 * stable as the corpus replicates 10×) — the gate's job is to fail
 * loudly when a regression drops a family toward chance, not to pin
 * run-to-run jitter.
 *
 * Scale shape: probes are a 20-row broadcast; every truth side is the
 * batchTopK shape (map-side scoring, ONE per-probe rank shuffle);
 * every approximate side touches only its index's candidate slice.
 * The recall join is 200 rows against 200 rows.
 */
object RecallQueries {

  private val K = 10
  private val NProbes = 20

  private def embAll(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "embeddings")
      .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))

  private def probesOf(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < NProbes)
      .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))

  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.VectorOps.dot(a, b)

  /** Exhaustive per-probe L2 top-k (the PQ/IVF-PQ metric), in-plan:
    * map-side scoring over corpus × broadcast probes, one per-probe
    * rank shuffle. No self-exclusion — the PQ sides keep self too,
    * so both sides of the recall join see the identical candidate
    * universe. */
  private def exactL2TopK(corpus: DataFrame, probes: DataFrame): DataFrame = {
    val v = col("e")
    val l2 = dot(v, v) - lit(2.0) * dot(v, col("probe_e")) +
      dot(col("probe_e"), col("probe_e"))
    val w = Window.partitionBy("probe_id").orderBy(asc("l2_dist"), asc("vec_id"))
    corpus.crossJoin(broadcast(probes))
      .withColumn("l2_dist", l2)
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= K)
      .select("probe_id", "vec_id")
  }

  /** Closes a recall gate: counts truth ∩ approx over the 20-probe
    * batch, REQUIREs the floor, emits the one measured row. The
    * require re-executes nothing fact-sized — both sides are ≤ 200
    * rows by construction. */
  private def recallRow(s: SparkSession, family: String, truth: DataFrame,
                        approx: DataFrame, floorPermille: Long): DataFrame = {
    import s.implicits._
    val hits = truth.join(approx, Seq("probe_id", "vec_id"), "left_semi").count()
    val recall = hits * 1000L / (NProbes.toLong * K)
    require(recall >= floorPermille,
      s"$family recall@$K degraded to $recall permille over $NProbes probes " +
        s"(floor $floorPermille) — retune bands/nProbe/shortlist before serving")
    Seq((family, NProbes.toLong, K.toLong, recall))
      .toDF("family", "n_probes", "k", "recall_permille")
  }

  val all: Seq[Q] = Seq(

    // ---- LSH recall at the PRODUCTION knob (nBits=16, hamming<=6 —
    //      sim_ann_topk's exact parameters), 20 probes: signature
    //      match is one broadcast cross join + bit_count filter, the
    //      survivor re-rank a per-probe window. Truth = batchTopK
    //      (cosine, self-excluded — matched by the =!= filter on the
    //      approximate side). Measured 510‰ at sf0.001 / 535‰ at
    //      sf0.01 — the honest number for hamming<=6 over these
    //      weakly-clustered synthetic embeddings (chance ≈ k/n = 20‰);
    //      floor 300 = the "toward chance" alarm. ----
    Q("sim_ann_recall",
      (s, dir) => {
        // one corpus materialization for the truth leg's two passes +
        // the approx leg's candidate-sized vector joins (the
        // sim_ivf_recall discipline)
        val emb = embAll(s, dir).checkpointed()
        val probes = probesOf(emb)
        // THE production operator at its production knobs, through the
        // fingerprint-cached persisted signature table (r19 — no
        // hand-rolled copy to drift from), excludeSelf matching the
        // truth side's convention
        val approx = graft.operators.Similarity
          .annBatchTopK(emb, probes, "e", dim = 64, k = K,
            nBits = 16, probeHamming = 6,
            sigs = Some(SimilarityQueries.sigTableCached(s, dir)),
            excludeSelf = true)
          .select("probe_id", "vec_id")
        val truth = graft.operators.Similarity.batchTopK(emb, probes, "e", K)
          .select("probe_id", "vec_id")
        recallRow(s, "lsh_h6", truth, approx, floorPermille = 300L)
      },
      None),

    // ---- IVF recall at PRODUCTION nProbe=4 of nLists=16 (the
    //      sim_ivf_topk parameters), 20 probes: per-probe cell pick
    //      is a 16×20 broadcast rank; candidates are the 4 probed
    //      cells' postings only (the whole point — a quarter of the
    //      corpus scanned per probe). Measured 460‰ at sf0.001 /
    //      485‰ at sf0.01 (chance ≈ 20‰); floor 300. ----
    Q("sim_ivf_recall",
      (s, dir) => {
        // ONE corpus materialization shared by the index build, the
        // approx leg and the truth leg (the truncation-curve
        // checkpoint pattern — VERDICT r19 #2: this gate re-parsed the
        // corpus across both legs and anti-scaled); the assignment
        // table materializes inside ivfIndex.
        val emb = embAll(s, dir).checkpointed()
        val probes = probesOf(emb)
        val (assigned, centroids) =
          graft.operators.Similarity.ivfIndex(emb, "vec_id", "e", nLists = 16)
        // THE production batch operator (probed-cell selection and the
        // bounded-heap rank live inside it — r19, no hand-rolled copy),
        // excludeSelf matching the truth side's convention
        val approx = graft.operators.Similarity
          .ivfBatchTopK(assigned, centroids, probes, "e", k = K, nProbe = 4,
            excludeSelf = true)
          .select("probe_id", "vec_id")
        val truth = graft.operators.Similarity.batchTopK(emb, probes, "e", K)
          .select("probe_id", "vec_id")
        recallRow(s, "ivf_p4", truth, approx, floorPermille = 300L)
      },
      None),

    // ---- PQ recall at PRODUCTION shortlist (m=8, k=16 codebooks,
    //      ADC shortlist ×8 + exact re-rank — sim_pq_topk's
    //      parameters), 20 probes through pqBatchTopK. Truth = exact
    //      L2 top-k (PQ's metric; self kept on both sides).
    //      Measured 805‰ at sf0.001 / 765‰ at sf0.01 — the re-rank
    //      recovers most quantization error; floor 600. ----
    Q("sim_pq_recall",
      (s, dir) => {
        // shared-materialization discipline (sim_ivf_recall): one
        // corpus parse feeds training, encode, both serving passes
        // and the exact truth leg
        val emb = embAll(s, dir).checkpointed()
        val probes = probesOf(emb)
        val cb = graft.operators.Similarity.trainPqCodebooks(
          emb, "vec_id", "e", dim = 64, m = 8, k = 16)
        val enc = graft.operators.Similarity.pqEncode(emb, "e", cb)
        val approx = graft.operators.Similarity
          .pqBatchTopK(enc, probes, cb, k = K, rerankVecCol = Some("e"))
          .select("probe_id", "vec_id")
        recallRow(s, "pq_m8", exactL2TopK(emb, probes), approx,
          floorPermille = 600L)
      },
      None),

    // ---- IVF-PQ recall at PRODUCTION nProbe=4 + shortlist ×8 (the
    //      sim_ivfpq_topk parameters), all 20 probes through ONE
    //      ivfPqBatchTopK plan (per-(probe, cell) residual tables via
    //      the probed-cell join — the serving shape; this gate ran a
    //      20-subplan driver loop before the batch operator existed).
    //      Measured 485‰ at sf0.001 / 510‰ at sf0.01 (chance ≈ 20‰);
    //      floor 300. ----
    Q("sim_ivfpq_recall",
      (s, dir) => {
        // same shared-materialization discipline as sim_ivf_recall:
        // one corpus parse; the encoded index materializes inside
        // ivfPqIndex (the ADC stage and the shortlist fetch-back both
        // read it; before, the whole assign+train+encode subtree
        // executed per read)
        val emb = embAll(s, dir).checkpointed()
        val probes = probesOf(emb)
        val (enc, cents, cb) = graft.operators.Similarity.ivfPqIndex(
          emb, "vec_id", "e", dim = 64, nLists = 16, m = 8, k = 16)
        val approx = graft.operators.Similarity.ivfPqBatchTopK(
            enc, cents, cb, probes, k = K, nProbe = 4,
            rerankVecCol = Some("e"))
          .select("probe_id", "vec_id")
        recallRow(s, "ivfpq_p4", exactL2TopK(emb, probes), approx,
          floorPermille = 300L)
      },
      None),

    // ---- Embedding near-dup recall at a PRODUCTION threshold on
    //      ORGANIC pairs: embed_near_dups_lsh pins the banded path
    //      only on STRUCTURAL copies (scaling preserves every
    //      hyperplane sign, so recall there is 1 by construction);
    //      here each vector gets a deterministic per-dim jitter copy
    //      (hash-derived ±9% — cosines spread across the threshold
    //      and signature bits genuinely flip), the EXACT side is the
    //      provably-lossless grid-blocked join, and recall_permille =
    //      |banded ∩ exact| / |exact| is the number an operator tunes
    //      nBits/chunk count against. Measured 1000‰ at sf0.001 /
    //      1000‰ at sf0.01 (hamming<=3 pigeonhole holds comfortably
    //      at this jitter; the gate exists to catch it ERODING);
    //      floor 700. ----
    Q("embed_neardup_recall",
      (s, dir) => {
        import s.implicits._
        val emb = embAll(s, dir).select(col("vec_id"), col("e"))
        val jittered = emb.select(
          (col("vec_id") + 100000).as("vec_id"),
          expr("transform(e, (x, i) -> x * (1.0 + " +
            "(pmod(xxhash64(vec_id * 64 + i), 19) - 9) / 100.0))").as("e"))
        val corpus = emb.unionByName(jittered).checkpointed() // both paths read it
        val t = 0.998
        val banded = graft.operators.Similarity
          .embeddingNearDups(corpus, "vec_id", "e", dim = 64, threshold = t)
          .select("id_a", "id_b")
        val exact = graft.operators.Similarity
          .exactBlockedNearDups(corpus, "vec_id", "e", threshold = t, blockDims = 2)
          .select("id_a", "id_b").checkpointed() // denominator AND the semi-join
        val nExact = exact.count()
        val hits = exact.join(banded, Seq("id_a", "id_b"), "left_semi").count()
        require(nExact > 0, "jitter fixture produced no near-dup pairs — gate vacuous")
        val recall = hits * 1000L / nExact
        require(recall >= 700L,
          s"embedding near-dup recall degraded to $recall permille over $nExact true pairs " +
            "(floor 700) — retune nBits/chunks before serving")
        Seq(("embed_h3", nExact, recall))
          .toDF("family", "n_true_pairs", "recall_permille")
      },
      None),

    // ---- BUCKETED vs SCAN LSH agreement at the multi-probe radius
    //      (r=2 — the indexed serving form's exactness pin,
    //      REQUIRE-backed since hyperplane signatures aren't
    //      SQL-replayable): Similarity.annBucketedBatchTopK's
    //      Hamming-ball mask enumeration must produce the IDENTICAL
    //      per-probe result set as the bit_count corpus scan — the
    //      equi-join form touches ~137/65536 of a sig-partitioned
    //      corpus where the scan touches all of it (SCALE annbucket
    //      measures the fan-out), and this gate is the proof the
    //      saving costs nothing at equal radius. ----
    Q("sim_ann_bucketed_agree",
      (s, dir) => {
        import s.implicits._
        val emb = embAll(s, dir)
        val probes = probesOf(emb)
        // both forms serve THROUGH the persisted signature table
        // (r18): the agreement proof now also covers the table-fed
        // candidate paths the production tier runs
        val sigs = Some(SimilarityQueries.sigTableCached(s, dir))
        val scan = graft.operators.Similarity.annBatchTopK(
            emb, probes, "e", dim = 64, k = K, nBits = 16, probeHamming = 2,
            sigs = sigs)
          .select("probe_id", "vec_id").checkpointed()
        val bucketed = graft.operators.Similarity.annBucketedBatchTopK(
            emb, probes, "e", dim = 64, k = K, nBits = 16, probeHamming = 2,
            sigs = sigs)
          .select("probe_id", "vec_id").checkpointed()
        val nScan = scan.count()
        val nBuck = bucketed.count()
        val common = scan.join(bucketed, Seq("probe_id", "vec_id"), "left_semi").count()
        require(nScan == nBuck && common == nScan,
          s"bucketed/scan LSH divergence at r=2: scan=$nScan bucketed=$nBuck common=$common")
        Seq(("ann_bucketed_r2", NProbes.toLong, K.toLong, nScan, common))
          .toDF("family", "n_probes", "k", "n_rows", "n_agree")
      },
      None),

    // ---- MATRYOSHKA recall at the PRODUCTION knobs (dPrefix=32 of
    //      64, shortlist 8x — sim_mrl_topk's parameters), 20 probes:
    //      stage 1 scores the per-probe prefix cosine over the
    //      persisted truncated projection (half the memory traffic),
    //      stage 2 re-ranks the 80-row shortlist exactly. Truth =
    //      batchTopK (self-excluded — matched by the =!= filter
    //      before the shortlist window). Measured 860‰ at sf0.001 /
    //      840‰ at sf0.01 / 745‰ at sf0.1 on UNTRAINED synthetic
    //      embeddings (uniform information across dims — truncation's
    //      worst case; chance ≈ 5-20‰); floor 500 = the
    //      toward-chance alarm. ----
    Q("sim_mrl_recall",
      (s, dir) => {
        // shared-materialization discipline (sim_ivf_recall)
        val emb = embAll(s, dir).checkpointed()
        val probes = probesOf(emb)
        // THE production operator at its production knobs (no
        // hand-rolled copy to drift from), excludeSelf matching the
        // truth side's convention
        val approx = graft.operators.Similarity
          .mrlBatchTopK(emb, probes, "e", dPrefix = 32, k = K,
            shortlistFactor = 8,
            prefixes = Some(SimilarityQueries.prefixTableCached(s, dir, 32)),
            excludeSelf = true)
          .select("probe_id", "vec_id")
        val truth = graft.operators.Similarity.batchTopK(emb, probes, "e", K)
          .select("probe_id", "vec_id")
        recallRow(s, "mrl_d32_f8", truth, approx, floorPermille = 500L)
      },
      None),

    // ---- INT8 recall at the PRODUCTION knobs (factor 2 —
    //      sim_sq8_topk's parameters), 20 probes: stage 1 is the
    //      exact BIGINT dot over the persisted 1-B/dim table, stage 2
    //      the exact rerank of the 20-row shortlist. Truth = batchTopK
    //      (self-excluded, matched below). Measured 1000‰ at every SF
    //      (980-935‰ even at factor 1 — int8 is near-lossless on
    //      cosine rank); floor 900 = the degradation alarm. ----
    Q("sim_sq8_recall",
      (s, dir) => {
        // shared-materialization discipline (sim_ivf_recall)
        val emb = embAll(s, dir).checkpointed()
        val probes = probesOf(emb)
        val approx = graft.operators.Similarity
          .sq8BatchTopK(emb, probes, "e", k = K, shortlistFactor = 2,
            quantized = Some(SimilarityQueries.sq8TableCached(s, dir)),
            excludeSelf = true)
          .select("probe_id", "vec_id")
        val truth = graft.operators.Similarity.batchTopK(emb, probes, "e", K)
          .select("probe_id", "vec_id")
        recallRow(s, "sq8_f2", truth, approx, floorPermille = 900L)
      },
      None),

    // ---- RRF FUSION QUALITY (VERDICT r17 #5 — the fusion gates pin
    //      the ARITHMETIC; this pins that fusing HELPS, the claim RRF
    //      exists to make): two BM25 legs see PARTIAL query evidence
    //      ((spark, merge) and (merge, window) — 50-deep candidate
    //      pools off the ONE maintained index) while relevance is the
    //      FULL conjunctive query (docs containing all three terms).
    //      Each leg ranks its own partial matches high; RRF rewards
    //      the docs BOTH legs rank — exactly the all-term docs — so
    //      fusion NDCG@10 must be >= either leg's (measured: fusion
    //      1000/1000/848 permille vs best-leg 778/855/619 at
    //      sf0.001/0.01/0.1 — margins 70-230 permille, a floor on the
    //      mechanism, not on jitter). NDCG in the text_bm25_ndcg
    //      integer discipline: micro-int rank discounts, BIGINT
    //      DCG/IDCG sums, permille floor division; ranks via 10-row
    //      broadcast count-of-better. Quality is REQUIRE-backed
    //      (hyperplane-free but rank-fusion isn't SQL-replayable at
    //      reasonable oracle cost) -> rows-only, twin = the
    //      oracle-backed sim_rrf_fusion/sim_rrf_fusion3 exactness
    //      gates over the same machinery. ----
    Q("sim_rrf_quality",
      (s, dir) => {
        import s.implicits._
        val terms = Seq("spark", "merge", "window")
        val (postings, stats) = TextQueries.bm25IncrementalTables(s, dir)
        def leg(ts: Seq[String]) =
          TextQueries.bm25ScoreTerms(postings, stats, ts, 50).checkpointed()
        val a = leg(Seq("spark", "merge"))
        val b = leg(Seq("merge", "window"))
        val fused = TextQueries.rrfLeg(a, "score_micro", "ra")
          .join(TextQueries.rrfLeg(b, "score_micro", "rb"), Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(col("ra"), lit(0L)) + coalesce(col("rb"), lit(0L)))
              .as("score_micro"))
          .checkpointed()
        val relset = postings.filter(col("token").isin(terms: _*))
          .groupBy("doc_id").agg(count(lit(1)).as("nt"))
          .filter(col("nt") === terms.size).select("doc_id")
          .checkpointed()
        val rtot = relset.count()
        val wts = s.range(1, 11).select(col("id").as("i"),
          expr("CAST(round(1000000 / (ln(CAST(id + 1 AS DOUBLE)) / ln(2.0))) AS BIGINT)")
            .as("w")).checkpointed()
        // coalesce like the dcg path: an empty relset must read
        // idcg = 0 (-> ndcg 0), not NPE on a null sum
        val idcg = wts.filter(col("i") <= math.min(10L, rtot))
          .agg(coalesce(sum("w"), lit(0L))).head().getLong(0)
        def ndcgPermille(list: DataFrame): Long = {
          val top = list.orderBy(desc("score_micro"), col("doc_id")).limit(10)
          val ranked = top.join(broadcast(
              top.select(col("doc_id").as("d2"), col("score_micro").as("s2"))),
              col("s2") > col("score_micro") ||
                (col("s2") === col("score_micro") && col("d2") < col("doc_id")),
              "left")
            .groupBy("doc_id").agg((count(col("d2")) + 1).as("rk"))
          val dcg = ranked.join(relset, Seq("doc_id"), "left_semi")
            .join(broadcast(wts), col("rk") === col("i"))
            .agg(coalesce(sum("w"), lit(0L))).head().getLong(0)
          if (idcg == 0L) 0L else 1000L * dcg / idcg
        }
        val na = ndcgPermille(a)
        val nb = ndcgPermille(b)
        val nf = ndcgPermille(fused)
        require(nf >= na && nf >= nb,
          s"RRF fusion must not underperform its best leg: " +
            s"fusion=$nf legA=$na legB=$nb (ndcg permille, floor = max leg)")
        Seq(
          ("leg_spark_merge", na, rtot),
          ("leg_merge_window", nb, rtot),
          ("rrf_fusion", nf, rtot))
          .toDF("ranking", "ndcg_permille", "n_relevant")
      },
      None),

    // ---- HLL relative error at the PRODUCTION rsd (0.02 — the
    //      agg_approx_distinct parameters): per-flag approximate vs
    //      exact distinct parts, err_permille per group, REQUIRE
    //      max err <= 100‰ (measured 5‰ at sf0.001, 9‰ at sf0.01;
    //      rsd 2% ⇒ ~1σ = 20‰; 100‰ = 5σ, a broken
    //      sketch, not jitter). Deterministic given the data, so the
    //      emitted rows are reproducibility-checkable. ----
    Q("agg_approx_distinct_error",
      (s, dir) => {
        val d = Tables.t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
            countDistinct(col("l_partkey")).as("exact_parts"))
          .withColumn("err_permille", expr(
            "CAST(abs(approx_parts - exact_parts) * 1000 div exact_parts AS BIGINT)"))
          .orderBy("l_returnflag")
          .checkpointed() // 3 rows: the REQUIRE probe and the caller's
                             // write read ONE materialization, not two scans
        val worst = d.agg(max("err_permille")).head().getLong(0)
        require(worst <= 100L,
          s"approx_count_distinct error degraded: $worst permille (floor 100)")
        d
      },
      None),

    // ---- approx_percentile relative error at PRODUCTION accuracy
    //      (1000 — the agg_approx_percentile parameters): per-flag
    //      approximate vs exact median of the cents-quantized price,
    //      REQUIRE max err <= 50‰ (accuracy 1000 ⇒ rank error ≤
    //      1/1000 of the group; 50‰ value error = a broken sketch).
    //      Exact side = percentile() over the same exact integers. ----
    Q("agg_approx_percentile_error",
      (s, dir) => {
        val li = Tables.t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
        // exact side via the counting form, NOT built-in percentile()
        // (one value buffer per group — an executor OOM at 100 TB; the
        // agg_approx_agreement discipline)
        val exact = graft.operators.Ranking.groupedCountingQuantile(
          li, "l_returnflag", "cents", 0.5, out = "exact_med")
        val d = li.groupBy("l_returnflag")
          .agg(expr("approx_percentile(cents, 0.5, 1000)").as("approx_med"))
          .join(broadcast(exact), Seq("l_returnflag"))
          // counting form lands a double (cents < 2^53: exact); back to long
          .withColumn("exact_med", col("exact_med").cast("long"))
          .withColumn("err_permille", expr(
            "CAST(abs(approx_med - exact_med) * 1000 div exact_med AS BIGINT)"))
          .select("l_returnflag", "approx_med", "exact_med", "err_permille")
          .orderBy("l_returnflag")
          .checkpointed() // 3 rows: one materialization for probe + write
        val worst = d.agg(max("err_permille")).head().getLong(0)
        require(worst <= 50L,
          s"approx_percentile error degraded: $worst permille (floor 50)")
        d
      },
      None)
  )
}
