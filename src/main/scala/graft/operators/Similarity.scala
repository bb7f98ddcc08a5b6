package graft.operators

import graft.operators.Checkpoints.Checkpointed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Embedding similarity search (SURVEY.md §2.8).
 *
 * Two tiers:
 *  - `bruteForceTopK`: exact cosine against a broadcast probe — the
 *    correctness baseline; map-side only (no shuffle of the corpus),
 *    top-k via TakeOrdered, linear in corpus size.
 *  - `annTopK`: random-hyperplane LSH — each vector gets a `nBits`-bit
 *    signature (sign of dot with deterministic pseudo-random planes);
 *    candidates = vectors whose signature is within `probeHamming` of
 *    the probe's, re-ranked exactly. At 100 TB the signature is
 *    precomputable + bucketable (partition by signature prefix), so a
 *    query touches a tiny fraction of the corpus.
 *
 * Planes are derived from a splitmix64-style integer mix of
 * (plane, dim) — no RNG state, identical on every executor.
 */
object Similarity {

  /** Sequential-fold dot product (native codegen expression). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k by cosine vs the single-row `probe` DataFrame
    * (column `probe_e: array<double>`). Norms are computed once per
    * side before the join (same expression value, bit-identical to
    * recomputing per pair). */
  def bruteForceTopK(corpus: DataFrame, probe: DataFrame, vecCol: String,
                     k: Int, idCol: String = "vec_id"): DataFrame =
    corpus.withColumn("_norm", sqrt(dot(col(vecCol), col(vecCol))))
      .crossJoin(broadcast(probe.withColumn("_pnorm", sqrt(dot(col("probe_e"), col("probe_e"))))))
      .withColumn("cos_sim", dot(col(vecCol), col("probe_e")) / (col("_norm") * col("_pnorm")))
      .drop("probe_e", "_norm", "_pnorm")
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)

  /**
   * Batch exact top-k: the k nearest corpus vectors for EVERY probe
   * row — the retrieval-evaluation shape (a batch of queries scored
   * against the corpus at once). The probe set broadcasts (it is the
   * small, bounded side — a query batch, not a second corpus), so
   * scoring is map-side over the corpus with no shuffle; the rank is
   * the bounded heap ([[heapShortlist]]), so the one shuffle carries
   * at most k·|probes| rows per input partition — never the
   * |corpus|·|probes| scored stream. The full scan per batch is the
   * remaining scale bound: past what a linear pass justifies, the
   * LSH/IVF index paths (`annTopK`, `ivfTopK`) replace this; like
   * `bruteForceTopK` it then serves as their recall oracle.
   *
   * `probes` columns: (`probeIdCol`, `probe_e: array<double>`).
   *
   * OUTPUT CONTRACT (shared by every batch serving form — this,
   * [[hardNegatives]], [[annBatchTopK]], [[annBucketedBatchTopK]],
   * [[ivfBatchTopK]], [[ivfPqBatchTopK]]): the corpus row's columns
   * plus the probe id, the distance/similarity column, and `rk` —
   * the 1-based per-probe rank (1 = best). `rk` is deliberate API,
   * not leakage: a serving caller pages/joins on it without
   * re-deriving order from the score column.
   */
  /**
   * The per-probe BOUNDED-HEAP shortlist every staged batch form
   * ranks stage 1 with (VERDICT r18 #1 — the window form this
   * replaces shuffled every probe's ENTIRE candidate set into one
   * task and fully sorted it there: a single-task corpus sort per
   * probe at 100 TB). [[graft.functions.TopKAgg.TopKPairs]]'s
   * ordering (value DESC, payload ASC, -0.0 tie-equal to 0.0) equals
   * `ROW_NUMBER() OVER (PARTITION BY probe ORDER BY value DESC,
   * id ASC)` exactly, so the swap is bit-compatible; the map side
   * keeps an n-element heap per probe and the shuffle carries at
   * most n rows per probe per input partition — probes·n, never
   * probes·corpus (SCALE staged1). Nulls in `value` never shortlist
   * (the window form ranked them last — identical survivors whenever
   * a probe has ≥ n non-null candidates).
   *
   * Returns (`probeIdCol`, `_sel_id` BIGINT — the selected row's id,
   * `_sel_val` DOUBLE — its heap value, raw, `rk` INT — the 1-based
   * per-probe rank under the heap's ordering).
   */
  private def heapShortlist(scored: DataFrame, probeIdCol: String,
                            value: Column, idCol: String, n: Int): DataFrame = {
    // the heap carries the row id as its BIGINT payload: a
    // non-integral id would cast to NULL, silently dropping every
    // candidate instead of ranking them — refuse loudly (string-keyed
    // corpora need a surrogate key, e.g. xxhash64 plus a dedup check)
    val idType = scored.schema(idCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(idType),
      s"batch serving ranks via a BIGINT-payload bounded heap — id column '$idCol' " +
        s"is $idType; supply an integral id (string ids need a surrogate key)")
    scored.groupBy(col(probeIdCol))
      .agg(graft.functions.TopKAgg.topK(
        value.cast(DoubleType), col(idCol).cast(LongType), n).as("_top"))
      .select(col(probeIdCol), posexplode(col("_top")).as(Seq("_pos", "_pair")))
      .select(col(probeIdCol), col("_pair").getField("payload").as("_sel_id"),
        col("_pair").getField("value").as("_sel_val"),
        (col("_pos") + lit(1)).as("rk"))
  }

  /** Fetch the shortlisted rows' columns back from the corpus: the
    * shortlist is probes×n rows (broadcast-sized by construction — a
    * query batch's answer, not a corpus), so this is one broadcast
    * hash join against a column-pruned second pass over the corpus;
    * the stage-1 scan itself touched only (id, score input). */
  private def fetchShortlist(corpus: DataFrame, sel: DataFrame,
                             idCol: String): DataFrame =
    corpus.join(broadcast(sel), col(idCol).cast(LongType) === col("_sel_id"))
      .drop("_sel_id", "_sel_val")

  def batchTopK(corpus: DataFrame, probes: DataFrame, vecCol: String, k: Int,
                idCol: String = "vec_id", probeIdCol: String = "probe_id"): DataFrame = {
    // stage-1 scan carries (id, vector) only; scoring is map-side
    // against the broadcast probe batch, the rank a bounded heap
    val scored = corpus.select(col(idCol), col(vecCol))
      .withColumn("_norm", sqrt(dot(col(vecCol), col(vecCol))))
      .crossJoin(broadcast(probes.withColumn("_pnorm", sqrt(dot(col("probe_e"), col("probe_e"))))))
      .filter(col(idCol) =!= col(probeIdCol))
      .withColumn("cos_sim", dot(col(vecCol), col("probe_e")) / (col("_norm") * col("_pnorm")))
    val sel = heapShortlist(scored, probeIdCol, col("cos_sim"), idCol, k)
    // recompute cos_sim on the k·|probes| winners — the same
    // expression over the same inputs, bit-identical to the scoring
    // pass (norms fold to the identical doubles)
    fetchShortlist(corpus, sel, idCol)
      .join(broadcast(probes), Seq(probeIdCol))
      .withColumn("cos_sim", dot(col(vecCol), col("probe_e")) /
        (sqrt(dot(col(vecCol), col(vecCol))) * sqrt(dot(col("probe_e"), col("probe_e")))))
      .drop("probe_e")
  }

  /**
   * Hard-negative mining for retrieval training: for every probe, the
   * k most-similar corpus vectors whose label DIFFERS from the
   * probe's — the "close but wrong" rows contrastive training pairs
   * against each anchor. Same scale shape as [[batchTopK]] (broadcast
   * query batch, map-side scoring over the corpus, bounded-heap rank),
   * but the label-mismatch filter runs BEFORE the rank, so same-label
   * rows never consume heap slots at all.
   *
   * `probes` columns: (`probeIdCol`, `probe_label`, `probe_e`).
   */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, vecCol: String, k: Int,
                    labelCol: String = "label", idCol: String = "vec_id",
                    probeIdCol: String = "probe_id"): DataFrame = {
    val scored = corpus.select(col(idCol), col(labelCol), col(vecCol))
      .withColumn("_norm", sqrt(dot(col(vecCol), col(vecCol))))
      .crossJoin(broadcast(probes.withColumn("_pnorm", sqrt(dot(col("probe_e"), col("probe_e"))))))
      .filter(col(labelCol) =!= col("probe_label"))
      .withColumn("cos_sim", dot(col(vecCol), col("probe_e")) / (col("_norm") * col("_pnorm")))
    val sel = heapShortlist(scored, probeIdCol, col("cos_sim"), idCol, k)
    fetchShortlist(corpus, sel, idCol)
      .join(broadcast(probes), Seq(probeIdCol))
      .withColumn("cos_sim", dot(col(vecCol), col("probe_e")) /
        (sqrt(dot(col(vecCol), col(vecCol))) * sqrt(dot(col("probe_e"), col("probe_e")))))
      .drop("probe_e", "probe_label")
  }

  /**
   * Contrastive TRIPLET mining — (anchor, hardest positive, hardest
   * negative) per anchor: the strongest same-label neighbor and the
   * strongest different-label neighbor by exact cosine, ties to the
   * lowest id. The training-pair assembly step of embedding-model
   * fine-tuning ([[hardNegatives]] is its negative half); "hardest
   * positive" here = most-similar same-label (the in-batch positive
   * convention), "hardest negative" = most-similar other-label.
   *
   * Scale posture: anchors are a broadcast-sized selection; scoring
   * is one map-side pass over the corpus (rows × |anchors|), the two
   * argmaxes are BOUNDED HEAPS per anchor ([[heapShortlist]] at k=1 —
   * never an anchor-partitioned window over the corpus-sized scored
   * stream), and both the winner's id and its cosine ride the heap
   * pair, so no fetch-back join is needed at all.
   * Output: (anchor_id, pos_id, pos_sim, neg_id, neg_sim).
   */
  def tripletMining(corpus: DataFrame, anchors: DataFrame, vecCol: String,
                    idCol: String = "vec_id", labelCol: String = "label"): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(labelCol).as("_a_label"), col(vecCol).as("_a_e"))
    val scored = corpus.select(col(idCol), col(labelCol), col(vecCol))
      .crossJoin(broadcast(a))
      .filter(col(idCol) =!= col("anchor_id"))
      .withColumn("cos_sim", cosine(col(vecCol), col("_a_e")))
    def top(side: DataFrame, prefix: String) = side
      .groupBy(col("anchor_id"))
      .agg(graft.functions.TopKAgg.topK(
        col("cos_sim"), col(idCol).cast(LongType), 1).as("_t"))
      .select(col("anchor_id"),
        element_at(col("_t"), 1).getField("payload").as(s"${prefix}_id"),
        element_at(col("_t"), 1).getField("value").as(s"${prefix}_sim"))
    top(scored.filter(col(labelCol) === col("_a_label")), "pos")
      .join(top(scored.filter(col(labelCol) =!= col("_a_label")), "neg"), "anchor_id")
  }

  /**
   * SemDeDup-style semantic dedup (Abbas et al. 2023, public): the
   * quadratic cosine comparison is confined to k-means cells so the
   * pairwise term is Σ(cell size)², never corpus².
   *
   *  1. Assign every vector to the Euclidean-nearest of `nClusters`
   *     seed centroids (the `nClusters` lowest-id vectors — a
   *     deterministic, metadata-sized seed set). The argmin runs in
   *     exact BIGINT over round(v*1000)-quantized components — with
   *     single-vector seeds ||q−c||² argmin collapses to
   *     (||c||² − 2·dot(q,c)), so there are no cross-engine float
   *     ties — and lands as ONE `min_by` aggregation (no window).
   *  2. Inside each cell, drop every vector that has a LOWER-id
   *     cell-mate with cosine >= `threshold` (keep-lowest-id
   *     canonical — the same deterministic keeper rule as
   *     [[graft.operators.Dedup.keepCanonical]]).
   *
   * Returns (`idCol`, cluster_id, kept). Scale posture: seeds
   * broadcast; assignment scoring multiplies rows by nClusters only;
   * the self-join carries a cell-id equi-key, so Spark hash-partitions
   * by cell — the 100 TB knob is nClusters (more cells = smaller
   * quadratic blocks), exactly the lever the algorithm exposes.
   */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    nClusters: Int = 8, threshold: Double = 0.99): DataFrame = {
    val d = corpus.select(col(idCol),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .withColumn("q", round(col("v") * 1000).cast(LongType))
    // seed ids = nClusters smallest ids: one tiny top-k, no collect
    val seedIds = corpus.select(col(idCol).as("_seed_id"))
      .orderBy(col("_seed_id")).limit(nClusters)
    // seeds are nClusters x dim rows (metadata) and assign is the
    // narrow (id, cluster) table — checkpoint both so the exploded
    // per-dimension relation `d` and the corpus parse execute once
    // instead of once per downstream lineage (measured 34 file scans
    // in the executed gate plan before; an assignment table is the
    // artifact a production semantic-dedup materializes anyway)
    val seeds = d.join(broadcast(seedIds), col(idCol) === col("_seed_id"))
      .select(col("_seed_id").as("c_id"), col("pos"), col("q").as("cq"))
      .checkpointed()
    val assign = d.join(broadcast(seeds), Seq("pos"))
      .groupBy(col(idCol), col("c_id"))
      .agg((sum(col("cq") * col("cq")) - lit(2L) * sum(col("q") * col("cq"))).as("score"))
      // argmin as ONE second aggregation (min over a (score, c_id)
      // struct — lexicographic, tie-proof) instead of a window rank:
      // both shuffles are keyed by idCol, and AQE coalesces them.
      .groupBy(col(idCol))
      .agg(min(struct(col("score"), col("c_id"))).as("_best"))
      .select(col(idCol), col("_best.c_id").as("cluster_id"))
      .checkpointed()
    val vecs = corpus.select(col(idCol), col(vecCol))
      .join(assign, idCol)
      .withColumn("_norm", sqrt(dot(col(vecCol), col(vecCol))))
    val a = vecs.select(col("cluster_id"), col(idCol).as("_id_a"),
      col(vecCol).as("_va"), col("_norm").as("_na"))
    val b = vecs.select(col("cluster_id"), col(idCol).as("_id_b"),
      col(vecCol).as("_vb"), col("_norm").as("_nb"))
    val pruned = a.join(b, Seq("cluster_id"))
      .filter(col("_id_a") < col("_id_b"))
      .filter(dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")) >= threshold)
      .select(col("_id_b").as(idCol)).distinct()
    vecs.select(col(idCol), col("cluster_id"))
      .join(pruned.withColumn("_pruned", lit(true)), Seq(idCol), "left")
      .withColumn("kept", col("_pruned").isNull)
      .select(col(idCol), col("cluster_id"), col("kept"))
  }

  /** nBits-bit hyperplane signature of an array<double> column —
    * the native [[graft.functions.HyperplaneSigExpr]] kernel: planes
    * (derived from a splitmix64 mix of (plane, dim), no RNG state)
    * ride the plan as ONE compact reference object, and the generated
    * code is a fixed loop nest — same bits as the former
    * literal-array fold, without growing the janino source or the
    * task binary with dim*nBits literals. */
  def signature(vec: Column, dim: Int, nBits: Int = 16): Column =
    graft.functions.PqCodec.hyperplaneSig(vec, dim, nBits)

  /** The PERSISTED LSH signature projection (VERDICT r17 #3):
    * (`idCol`, `sig`) — built ONCE per corpus and laid down beside
    * (or instead of) the raw vectors, so the LSH serving forms read
    * 16 B/row for candidate generation and touch the float arrays
    * only for the candidate-sized verify stage
    * ([[annBatchTopK]]/[[annBucketedBatchTopK]]'s `sigs` parameter).
    * Pure projection — no shuffle, no state — which is also the
    * APPEND path: a fresh batch's rows project map-side and append,
    * and because the signature is per-row deterministic the appended
    * table is bit-identical to a full rebuild
    * (DedupSimilaritySpec pins append == rebuild). At 100 TB the
    * table is additionally LAID OUT by signature (partition/sort by
    * `sig` or a prefix), which turns [[annBucketedBatchTopK]]'s
    * equi-join into a partition-pruned read. */
  def signatureTable(corpus: DataFrame, idCol: String, vecCol: String,
                     dim: Int, nBits: Int = 16): DataFrame =
    corpus.select(col(idCol), signature(col(vecCol), dim, nBits).as("sig"))

  /** The 64 sign bits of an array<double> column packed as two
    * 32-bit words — the persisted binary-embedding table behind
    * [[hammingTopK]]/[[hammingBatchTopK]] (1 bit/dimension: 32× less
    * memory traffic than the float rows). Map-side HOF fold, no
    * explode — the same build-once + append-by-projection discipline
    * as [[signatureTable]]. Sign convention `x > 0D` is an exact
    * double comparison every engine shares. `dim` must be 64 (the
    * two-word packing) and every row's array length must MATCH it —
    * a short vector would silently fold missing dims to 0 bits and a
    * long one would silently drop dims past 64 (ADVICE r18), so a
    * mismatched row fails the job loudly instead of ranking on a
    * wrong signature. */
  def signBitsTable(corpus: DataFrame, idCol: String, vecCol: String,
                    dim: Int = 64): DataFrame = {
    require(dim == 64,
      s"signBitsTable packs exactly 64 sign bits (two 32-bit words); got dim=$dim — " +
        "for other widths use signatureTable(nBits) or extend the packing")
    val guarded = s"IF(size($vecCol) = $dim, $vecCol, " +
      s"raise_error(concat('signBitsTable: vector length ', " +
      s"CAST(size($vecCol) AS STRING), " +
      s"' != dim $dim — refusing to pack a partial signature')))"
    corpus.select(col(idCol),
      expr(s"aggregate(sequence(0, 31), 0L, (a, p) -> " +
        s"a + IF(element_at($guarded, p + 1) > 0D, shiftleft(1L, p), 0L))").as("lo"),
      expr(s"aggregate(sequence(32, 63), 0L, (a, p) -> " +
        s"a + IF(element_at($guarded, p + 1) > 0D, shiftleft(1L, p - 32), 0L))").as("hi"))
  }

  /**
   * MATRYOSHKA (prefix-dimension) staged retrieval — the
   * truncation-based ANN family beside LSH (bits), IVF (cells), and
   * PQ (codes): MRL-style embeddings front-load information into the
   * leading dimensions, so stage 1 scores every (row, probe) pair on
   * the FIRST `dPrefix` dims only (dPrefix/dim of the memory traffic
   * — at 100 TB the truncated vectors are a PERSISTED PROJECTION
   * beside the full rows, the [[signatureTable]] discipline; pass it
   * via `prefixes` ((idCol, `e_prefix`)) and the full vectors join in
   * shortlist-sized) and keeps a per-probe shortlist of
   * k·shortlistFactor; stage 2 re-ranks the shortlist with exact
   * full-dim cosine. Exactness rider: a shortlistFactor covering the
   * corpus makes stage 2 exact per-probe cosine top-k whatever the
   * prefix saw (`sim_mrl_batch_exact`); production recall at
   * (dPrefix, shortlistFactor) is REQUIRE-floored by
   * `sim_mrl_recall`. Output: the [[batchTopK]] contract.
   * `probes`: (`probeIdCol`, `probe_e`).
   */
  def mrlBatchTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
                   dPrefix: Int, k: Int, shortlistFactor: Int = 4,
                   idCol: String = "vec_id", probeIdCol: String = "probe_id",
                   prefixes: Option[DataFrame] = None,
                   excludeSelf: Boolean = false): DataFrame = {
    require(dPrefix >= 1, s"dPrefix must be >= 1, got $dPrefix")
    val probePfx = probes.select(col(probeIdCol),
      expr(s"slice(probe_e, 1, $dPrefix)").as("_p_pfx"))
    val shortN = math.min(Int.MaxValue.toLong,
      k.toLong * shortlistFactor.toLong).toInt
    // excludeSelf (the recall-gate convention: probes drawn from the
    // corpus rank their neighbors, not themselves) drops the self
    // pair BEFORE the shortlist heap so it never consumes a slot
    def excl(df: DataFrame): DataFrame =
      if (excludeSelf) df.filter(col(idCol) =!= col(probeIdCol)) else df
    // stage 1 reads ONLY the truncated projection — the persisted
    // table when given, else the identical inline projection — and
    // ranks per probe with the bounded heap; full vectors join in
    // shortlist-sized
    val pfx = prefixes.getOrElse(prefixTable(corpus, idCol, vecCol, dPrefix))
    val scored = excl(pfx.crossJoin(broadcast(probePfx)))
      .withColumn("_pfx_cos", cosine(col("e_prefix"), col("_p_pfx")))
    val sel = heapShortlist(scored, probeIdCol, col("_pfx_cos"), idCol, shortN)
      .drop("rk")
    val staged = fetchShortlist(corpus, sel, idCol)
      .join(broadcast(probes), Seq(probeIdCol))
    // stage 2: exact full-dim re-rank of the shortlist (its input is
    // probes×shortN rows by construction — bounded, never the corpus)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(probeIdCol).orderBy(desc("cos_sim"), asc(idCol))
    staged.withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .drop("probe_e")
  }

  /** The persisted Matryoshka projection: (idCol, `e_prefix`) — the
    * first `dPrefix` dims of each vector, built once and appended by
    * map-side projection exactly like [[signatureTable]]. */
  def prefixTable(corpus: DataFrame, idCol: String, vecCol: String,
                  dPrefix: Int): DataFrame =
    corpus.select(col(idCol), expr(s"slice($vecCol, 1, $dPrefix)").as("e_prefix"))

  /** The persisted INT8 scalar-quantization table: (idCol, `q`) —
    * each vector L2-normalized then quantized per-dim to
    * round(127·x) as TINYINT (1 B/dim vs 8: the 8-bit rung of the
    * precision ladder between [[signBitsTable]]'s 1 bit and the
    * float rows; near-lossless on cosine rank — sim_sq8_recall
    * measures 935-1000‰). Build-once + append-by-projection, the
    * [[signatureTable]] discipline. An all-zero vector has no
    * direction to quantize (0/0 per dim — the NaN would silently
    * CAST to 0, ADVICE r18): it lands as NULL `q`, which the staged
    * serving form never shortlists — consistent with the float path,
    * where its cosine is NaN-ranked-last anyway. This is the ONE
    * quantization definition — [[sq8BatchTopK]]'s inline form calls
    * it too, so table-fed and inline can never drift apart. */
  def sq8Table(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.withColumn("_n", sqrt(dot(col(vecCol), col(vecCol))))
      .select(col(idCol),
        when(col("_n") =!= lit(0.0d),
          expr(s"transform($vecCol, x -> CAST(round(127.0D * x / _n) AS TINYINT))"))
          .as("q"))

  /** Exact BIGINT dot product of two int8 arrays — stage 1 of
    * [[sq8BatchTopK]]: the native codegen'd
    * [[graft.functions.IntDotProduct]] loop (integer all the way —
    * identical on every engine and every partition order; the HOF
    * zip_with·aggregate fold computes the same value, VectorOpsSpec
    * pins the equality, but pays two lambda dispatches per dim). */
  private def intDot(a: Column, b: Column): Column =
    graft.functions.VectorOps.intDot(a, b)

  /**
   * INT8 staged retrieval — [[mrlBatchTopK]]'s precision-ladder
   * sibling: stage 1 ranks every (row, probe) pair by the EXACT
   * integer dot of the quantized vectors (1 B/dim memory traffic —
   * at 100 TB the quantized table is a PERSISTED PROJECTION, pass it
   * via `quantized` ((idCol, `q`)) and the float rows join in
   * shortlist-sized), keeps k·shortlistFactor per probe, and stage 2
   * re-ranks exactly in full precision. Exactness rider: a covering
   * shortlist makes stage 2 exact per-probe cosine top-k
   * (`sim_sq8_batch_exact`); production recall at factor 2 is
   * REQUIRE-floored by `sim_sq8_recall` (int8 is near-lossless on
   * cosine rank). Output: the [[batchTopK]] contract.
   * `probes`: (`probeIdCol`, `probe_e`).
   */
  def sq8BatchTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
                   k: Int, shortlistFactor: Int = 2,
                   idCol: String = "vec_id", probeIdCol: String = "probe_id",
                   quantized: Option[DataFrame] = None,
                   excludeSelf: Boolean = false): DataFrame = {
    val probeQ = sq8Table(probes, probeIdCol, "probe_e")
      .withColumnRenamed("q", "_pq")
    val shortN = math.min(Int.MaxValue.toLong,
      k.toLong * shortlistFactor.toLong).toInt
    def excl(df: DataFrame): DataFrame =
      if (excludeSelf) df.filter(col(idCol) =!= col(probeIdCol)) else df
    // stage 1 reads ONLY the 1-B/dim quantized projection — the
    // persisted table when given, else the IDENTICAL sq8Table
    // projection inline (one quantization definition, so table-fed
    // and inline are bit-identical by construction) — and ranks per
    // probe with the bounded heap (the exact BIGINT dot is < 2^53
    // for any real dim·127², so its double image preserves every tie)
    val qt = quantized.getOrElse(sq8Table(corpus, idCol, vecCol))
    val scored = excl(qt.crossJoin(broadcast(probeQ)))
      .withColumn("_qdot", intDot(col("q"), col("_pq")))
    val sel = heapShortlist(scored, probeIdCol, col("_qdot"), idCol, shortN)
      .drop("rk")
    val staged = fetchShortlist(corpus, sel, idCol)
      .join(broadcast(probes), Seq(probeIdCol))
    // stage 2: exact full-precision re-rank of the bounded shortlist
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(probeIdCol).orderBy(desc("cos_sim"), asc(idCol))
    staged.withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .drop("probe_e")
  }

  /** Hamming top-k FROM the precomputed sign-bit table
    * ([[signBitsTable]] rows): distance is two XOR+popcounts per
    * candidate against the one broadcast probe row
    * (`probe`: (`plo`, `phi`)), top-k is TakeOrderedAndProject.
    * The raw vectors never enter the plan — the production
    * composition is this shortlist followed by a candidate-sized
    * float re-rank, the PQ/matryoshka staging pattern. */
  def hammingTopK(packed: DataFrame, probe: DataFrame, k: Int,
                  idCol: String = "vec_id"): DataFrame =
    packed.crossJoin(broadcast(probe))
      .select(col(idCol),
        (bit_count(col("lo").bitwiseXOR(col("plo"))) +
          bit_count(col("hi").bitwiseXOR(col("phi")))).cast("long").as("hamming"))
      .orderBy(col("hamming"), col(idCol))
      .limit(k)

  /**
   * BATCH Hamming serving — [[hammingTopK]]'s probe-batch form
   * (VERDICT r18 missing #3: the 1-bit rung was the one serving
   * family without the shared probe-batch `rk` contract): every
   * probe's packed words ride the broadcast probe frame
   * (`probes`: (`probeIdCol`, `plo`, `phi`) — a [[signBitsTable]]
   * projection of the query batch), distance is two XOR+popcounts
   * per (row, probe) over the 16-B/row packed table, and the
   * per-probe rank is the bounded heap ([[heapShortlist]] on the
   * negated distance — shuffle rows track probes·k, never
   * probes·corpus). Exact given the signatures (no recall caveat at
   * this rung: the HAMMING top-k is the operator's contract; what
   * binarization costs against cosine is the float re-rank stage's
   * concern), so the gate is a REAL DuckDB oracle row — bit_count
   * and xor replay in SQL. Output: (`probeIdCol`, `idCol`,
   * `hamming`, `rk`) — ties to the lower id, the shared contract.
   */
  def hammingBatchTopK(packed: DataFrame, probes: DataFrame, k: Int,
                       idCol: String = "vec_id",
                       probeIdCol: String = "probe_id",
                       excludeSelf: Boolean = false): DataFrame = {
    def excl(df: DataFrame): DataFrame =
      if (excludeSelf) df.filter(col(idCol) =!= col(probeIdCol)) else df
    val scored = excl(packed.crossJoin(broadcast(probes)))
      .withColumn("hamming",
        (bit_count(col("lo").bitwiseXOR(col("plo"))) +
          bit_count(col("hi").bitwiseXOR(col("phi")))).cast("long"))
    // distances are small non-negative integers: (0.0 - d) flips the
    // order exactly (ties to the lower id via the heap's payload rule)
    // and the winner's distance rides the heap pair back out —
    // negated again, exactly (integer-valued doubles)
    heapShortlist(scored, probeIdCol, lit(0.0d) - col("hamming"), idCol, k)
      .select(col(probeIdCol), col("_sel_id").as(idCol),
        (lit(0.0d) - col("_sel_val")).cast("long").as("hamming"), col("rk"))
  }

  /**
   * ANN top-k: restrict to vectors whose signature Hamming-distance
   * from the probe's signature is <= `probeHamming`, then exact
   * cosine re-rank. Recall is tunable via nBits/probeHamming; the
   * candidate set is a bit_count filter on a precomputable long.
   */
  def annTopK(corpus: DataFrame, probe: DataFrame, vecCol: String,
              dim: Int, k: Int, nBits: Int = 16, probeHamming: Int = 6,
              idCol: String = "vec_id"): DataFrame = {
    val sigCorpus = corpus.withColumn("sig", signature(col(vecCol), dim, nBits))
    val sigProbe = probe.withColumn("probe_sig", signature(col("probe_e"), dim, nBits))
    sigCorpus.crossJoin(broadcast(sigProbe))
      .filter(expr(s"bit_count(sig ^ probe_sig) <= $probeHamming"))
      .withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
      .drop("probe_e", "probe_sig", "sig")
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  /**
   * BATCH LSH serving — [[annTopK]]'s probe-batch form, completing
   * the batch tier across all four ANN families (brute =
   * [[batchTopK]], PQ = [[pqBatchTopK]], IVF/IVF-PQ =
   * [[ivfBatchTopK]]/[[ivfPqBatchTopK]]): every probe's signature
   * rides the broadcast probe frame, candidates are the bit_count
   * filter per (row, probe), survivors re-rank exactly under one
   * per-probe window. With `sigs` (a persisted [[signatureTable]] —
   * the PRODUCTION form, VERDICT r17 #3) the candidate filter reads
   * ONLY the 16-B/row signature table; the raw vectors join in BY ID
   * for the verify stage, candidate-sized — the corpus float arrays
   * never ride the candidate scan. Without it the signature computes
   * inline (the self-contained gate/oracle form; bit-identical
   * results — the per-row signature is deterministic, spec-pinned).
   * Exactness rider: probeHamming = nBits accepts every
   * candidate, so each probe's answer equals exact cosine top-k
   * (`sim_ann_batch_topk`). `probes`: (`probeIdCol`, `probe_e`).
   * Output: the [[batchTopK]] contract — corpus columns + `cos_sim`
   * + the per-probe rank `rk`.
   */
  def annBatchTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
                   dim: Int, k: Int, nBits: Int = 16, probeHamming: Int = 6,
                   idCol: String = "vec_id", probeIdCol: String = "probe_id",
                   sigs: Option[DataFrame] = None,
                   excludeSelf: Boolean = false): DataFrame = {
    def excl(df: DataFrame): DataFrame =
      if (excludeSelf) df.filter(col(idCol) =!= col(probeIdCol)) else df
    val sigP = probes.withColumn("probe_sig", signature(col("probe_e"), dim, nBits))
    // candidate generation: the bit_count filter over the signatures —
    // table-fed (16 B/row) when given, inline otherwise; scoring then
    // touches only (id, vector) for the candidates
    val cand = sigs match {
      case Some(t) =>
        t.crossJoin(broadcast(sigP.select(col(probeIdCol), col("probe_sig"))))
          .filter(expr(s"bit_count(sig ^ probe_sig) <= $probeHamming"))
          .select(col(idCol), col(probeIdCol))
      case None =>
        corpus.select(col(idCol), signature(col(vecCol), dim, nBits).as("sig"))
          .crossJoin(broadcast(sigP.select(col(probeIdCol), col("probe_sig"))))
          .filter(expr(s"bit_count(sig ^ probe_sig) <= $probeHamming"))
          .select(col(idCol), col(probeIdCol))
    }
    // the per-probe rank is the bounded heap — a probe's candidate
    // set (≈10% of the corpus at hamming≤6) never funnels into one
    // window task; shuffle rows track probes·k
    val scored = excl(cand)
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(probes), Seq(probeIdCol))
      .withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
    val sel = heapShortlist(scored, probeIdCol, col("cos_sim"), idCol, k)
    fetchShortlist(corpus, sel, idCol)
      .join(broadcast(probes), Seq(probeIdCol))
      .withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
      .drop("probe_e")
  }

  /** All `nBits`-wide XOR masks with at most `r` set bits — the
    * multi-probe enumeration of [[annBucketedBatchTopK]]. Metadata by
    * construction: Σ C(nBits, i), i ≤ r (137 at nBits=16, r=2; 697 at
    * r=3); r > 3 outgrows the point of bucketing, rejected. */
  private def hammingMasks(nBits: Int, r: Int): Seq[Long] = {
    require(r >= 0 && r <= 3,
      s"multi-probe enumerates C($nBits, <=r) masks — r must be 0..3, got $r")
    val out = scala.collection.mutable.ArrayBuffer(0L)
    if (r >= 1) for (i <- 0 until nBits) out += (1L << i)
    if (r >= 2) for (i <- 0 until nBits; j <- i + 1 until nBits)
      out += (1L << i) | (1L << j)
    if (r >= 3) for (i <- 0 until nBits; j <- i + 1 until nBits; l <- j + 1 until nBits)
      out += (1L << i) | (1L << j) | (1L << l)
    out.toSeq
  }

  /**
   * Signature-BUCKETED multi-probe LSH — the INDEXED serving form of
   * [[annTopK]]/[[annBatchTopK]]: those scan the whole corpus and
   * filter by `bit_count`, which is map-side but still a full scan
   * per query batch — at 100 TB the corpus signature is PRECOMPUTED
   * and the corpus is laid out BY signature, and this form exploits
   * that: each probe enumerates every signature within `probeHamming`
   * of its own ([[hammingMasks]] — Σ C(nBits, i) masks, 137 at the
   * r=2 default, XORed onto the probe signature in-plan) and
   * candidates come from the signature EQUI-JOIN — on a
   * sig-partitioned corpus a partition-pruned read touching
   * ~masks/2^nBits of the data (~0.2% at 16 bits, r=2), never a full
   * scan. The candidate set provably EQUALS the scan form's
   * {x : hamming(sig_x, sig_p) ≤ r} (XOR by every ≤r-bit mask
   * enumerates exactly the Hamming ball), so the two forms are
   * bit-identical at equal r — DedupSimilaritySpec pins it and the
   * `sim_ann_bucketed_agree` gate REQUIREs it per run. Recall at a
   * given r is lower than the scan form at hamming ≤ 6 — the classic
   * multi-probe trade (touch 0.2% of the corpus, accept the smaller
   * ball; raise r or nBits to buy recall with a bigger ball).
   * Pass `sigs` (a persisted [[signatureTable]]) for the production
   * serving form: candidates come off the 16-B/row table and the
   * float vectors join in candidate-sized — without it the signature
   * computes inline (bit-identical results either way).
   * `probes`: (`probeIdCol`, `probe_e`). Output: the [[batchTopK]]
   * contract — corpus columns + `cos_sim` + the per-probe rank `rk`.
   */
  def annBucketedBatchTopK(corpus: DataFrame, probes: DataFrame, vecCol: String,
                           dim: Int, k: Int, nBits: Int = 16, probeHamming: Int = 2,
                           idCol: String = "vec_id",
                           probeIdCol: String = "probe_id",
                           sigs: Option[DataFrame] = None): DataFrame = {
    val masks = hammingMasks(nBits, probeHamming)
    val sigP = probes
      .withColumn("probe_sig", signature(col("probe_e"), dim, nBits))
      .withColumn("sig", explode(array(
        masks.map(m => col("probe_sig").bitwiseXOR(lit(m))): _*)))
    val cand = sigs match {
      // the persisted-table serving form (VERDICT r17 #3): the
      // Hamming-ball keys equi-join the 16-B/row signature table —
      // on a sig-partitioned layout a partition-pruned read — and
      // the float vectors join in by id only for the candidates
      case Some(t) =>
        t.join(broadcast(sigP.select(col(probeIdCol), col("sig"))), "sig")
          .select(col(idCol), col(probeIdCol))
      case None =>
        corpus.select(col(idCol), signature(col(vecCol), dim, nBits).as("sig"))
          .join(broadcast(sigP.select(col(probeIdCol), col("sig"))), "sig")
          .select(col(idCol), col(probeIdCol))
    }
    // bounded-heap rank (never a per-probe window over the candidate
    // stream); vectors join candidate-sized for scoring, k-sized for
    // the output fetch
    val scored = cand
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(probes), Seq(probeIdCol))
      .withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
    val sel = heapShortlist(scored, probeIdCol, col("cos_sim"), idCol, k)
    fetchShortlist(corpus, sel, idCol)
      .join(broadcast(probes), Seq(probeIdCol))
      .withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
      .drop("probe_e")
  }

  /**
   * IVF (inverted-file) ANN: partition the corpus into `nLists` cells
   * around sampled centroids; a query probes only the `nProbe` cells
   * whose centroids are nearest its vector, then re-ranks exactly.
   *
   * Centroids are SAMPLED DATA POINTS (every (n/nLists)-th vector in
   * vec_id order) — deterministic, no k-means iterations to seed; at
   * 100 TB the cell assignment is precomputed once and the corpus is
   * PARTITIONED BY cell, so a query reads nProbe/nLists of the data.
   * LSH (annTopK) needs no training but prunes poorly on
   * weakly-clustered data; IVF adapts to the data's own geometry.
   */
  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
               nLists: Int = 16): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    // Sampled centroids via deterministic hash filter — NO global sort
    // (a row_number over the whole corpus would funnel 100 TB through
    // one task). The candidate set is tiny, so collecting it to build
    // the cell index is a metadata operation, not a data path.
    val sampled = corpus
      .select(col(idCol).as("_id"), col(vecCol).as("centroid"))
      .orderBy(abs(xxhash64(col("_id"))))
      .limit(nLists)
      .collect()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cell", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("centroid",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    val rows = sampled.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(i, r.getSeq[Double](1))
    }
    val centroids = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1), schema)
    // assign each vector to its nearest centroid MAP-SIDE via the
    // literal-centroid argmin ([[assignToCentroids]] — the centroids
    // were just collected, so they are already driver metadata): zero
    // shuffle, zero window. The window form this replaced shuffled
    // nLists × corpus rows CARRYING THE VECTORS into a per-id window
    // sort (guide §2.4 — remove shuffles outright); the argmin value
    // is bit-identical ((-cosine, cell) struct-min, same expression
    // over the same doubles — the equality ivfAppend's append ==
    // rebuild gate already pins). Column order matches the old form
    // (corpus columns then cell). Past the plan-literal ceiling the
    // broadcast-join argmin takes over (one broadcast + per-id
    // min_by-style aggregation — still no corpus-carrying window).
    val assigned =
      if (nLists <= MaxLiteralCentroids) assignToCentroids(corpus, centroids, vecCol)
      else {
        val best = corpus.select(col(idCol), col(vecCol))
          .crossJoin(broadcast(centroids))
          .groupBy(col(idCol).as("_best_id"))
          .agg(min(struct((-cosine(col(vecCol), col("centroid"))).as("d"),
            col("cell"))).as("_best"))
          .select(col("_best_id"), col("_best.cell").as("cell"))
        corpus.join(best, corpus(idCol) === col("_best_id")).drop("_best_id")
      }
    // The assignment table MATERIALIZES here — it is the persisted
    // index artifact this operator exists to build (at 100 TB it is
    // written partitioned BY cell; the serving forms read it, never
    // rebuild it). Without a materialization point every downstream
    // read re-ran the full argmin + corpus parse: the old window form
    // was accidentally protected by exchange reuse, the map-side form
    // is not — measured 3-4x regressions across the IVF family when
    // this returned a bare plan.
    (assigned.checkpointed(), centroids)
  }

  /** Query the IVF index: probe the nProbe nearest cells, exact
    * re-rank inside them. */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame, probe: DataFrame,
              vecCol: String, k: Int, nProbe: Int = 4,
              idCol: String = "vec_id"): DataFrame = {
    val probeCells = centroids.crossJoin(broadcast(probe))
      .withColumn("sim", cosine(col("centroid"), col("probe_e")))
      // cell tie-break: cosine-equal centroids must select
      // deterministically (rows-only gate queries are still
      // reproducibility-checked across runs)
      .orderBy(desc("sim"), asc("cell")).limit(nProbe)
      .select("cell")
    assigned.join(broadcast(probeCells), "cell")
      .crossJoin(broadcast(probe))
      .withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
      .drop("probe_e", "cell")
      .orderBy(desc("cos_sim"), asc(idCol))
      .limit(k)
  }

  /** Per-probe probed-cell selection IN-PLAN — the serving half shared
    * by [[ivfBatchTopK]] and [[ivfPqBatchTopK]]: rank every (cell,
    * probe) pair by the ASSIGNMENT's own metric (cosine — ranking by
    * L2 here would search a different cell set than the one the index
    * partitioned by) and keep each probe's `nProbe` best, ties to the
    * lower cell id. The frame is (nLists × |probes|) rows — centroid
    * metadata times a broadcast-sized query batch — so the window
    * shuffle is metadata-sized; output carries `probe_e` beside each
    * (probe, cell) so the corpus join needs no second probe lookup. */
  private def probedCells(centroids: DataFrame, probes: DataFrame,
                          nProbe: Int, probeIdCol: String): DataFrame = {
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(probeIdCol).orderBy(desc("_csim"), asc("cell"))
    centroids.crossJoin(broadcast(probes))
      .withColumn("_csim", cosine(col("centroid"), col("probe_e")))
      .withColumn("_crk", row_number().over(wCell))
      .filter(col("_crk") <= nProbe)
      .drop("_crk", "_csim")
  }

  /**
   * BATCH IVF serving — the k nearest corpus vectors for EVERY probe
   * row through the cell-pruned index: [[ivfTopK]] answers one probe;
   * a 100 TB serving tier answers probe BATCHES, and running the
   * single-probe form per query would re-plan (and on a cold index
   * re-scan) once per probe. Here the per-probe cell rank happens
   * in-plan over the metadata-sized (cell × probe) frame
   * ([[probedCells]]), the corpus join touches ONLY probed cells'
   * postings (one broadcast equi-join on `cell` — on a
   * cell-partitioned corpus a partition-pruned read, never a full
   * scan), and the per-probe top-k is one window over the scored
   * candidate stream. Wall tracks |probes| × (corpus/nLists × nProbe),
   * never |probes| × corpus (SCALE ivfbatch).
   *
   * Exactness rider: with nProbe = nLists every cell is probed and
   * the result equals exact per-probe cosine top-k — the
   * `sim_ivf_batch_topk` gate pins that against the DuckDB oracle.
   * `probes` columns: (`probeIdCol`, `probe_e: array<double>`).
   * Output: the [[batchTopK]] contract — corpus columns + `cos_sim`
   * + the per-probe rank `rk`.
   */
  def ivfBatchTopK(assigned: DataFrame, centroids: DataFrame, probes: DataFrame,
                   vecCol: String, k: Int, nProbe: Int = 4,
                   idCol: String = "vec_id", probeIdCol: String = "probe_id",
                   excludeSelf: Boolean = false): DataFrame = {
    val pc = probedCells(centroids, probes, nProbe, probeIdCol)
      .select(col(probeIdCol), col("probe_e"), col("cell"))
    def excl(df: DataFrame): DataFrame =
      if (excludeSelf) df.filter(col(idCol) =!= col(probeIdCol)) else df
    // probed-cell candidates score on (id, vector) only; the per-probe
    // rank is the bounded heap — a probe's nProbe/nLists corpus slice
    // never funnels into one window task
    val scored = excl(assigned.select(col(idCol), col(vecCol), col("cell"))
      .join(broadcast(pc), "cell"))
      .withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
    val sel = heapShortlist(scored, probeIdCol, col("cos_sim"), idCol, k)
    fetchShortlist(assigned, sel, idCol)
      .join(broadcast(probes), Seq(probeIdCol))
      .withColumn("cos_sim", cosine(col(vecCol), col("probe_e")))
      .drop("probe_e", "cell")
  }

  /**
   * MAP-SIDE cell assignment against EXISTING centroids — the append
   * path of incremental IVF index maintenance. The centroid table is
   * metadata (nLists rows), so it collects to the driver and the
   * argmin becomes ONE projection per fresh vector: an array of
   * (-cosine, cell) candidate structs reduced by `array_min` (struct
   * ordering = distance first, cell id tie-break — the identical
   * (d, cell) min [[ivfIndex]]'s window argmin computes, so appended
   * vectors land exactly where a full rebuild would put them, given
   * unchanged centroids). No shuffle, no window: cost tracks the
   * BATCH, never the corpus (SCALE ivfapp).
   */
  /** Plan-embedding ceiling for [[assignToCentroids]]: each centroid
    * rides the plan as a `typedLit` vector literal (nLists × dim
    * doubles in every task binary — the unigram `MaxPieces` class).
    * At the gate/production nLists here (16-64) that is free; past
    * this ceiling the right FORM is the broadcast-join argmin
    * [[ivfIndex]] already uses (crossJoin(broadcast(centroids)) +
    * per-id min — one broadcast however many lists), traded against
    * one extra shuffleless pass. */
  val MaxLiteralCentroids = 1024

  def assignToCentroids(fresh: DataFrame, centroids: DataFrame,
                        vecCol: String): DataFrame = {
    val cents = centroids.select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
    require(cents.nonEmpty, "assignToCentroids: empty centroid table")
    require(cents.length <= MaxLiteralCentroids,
      s"assignToCentroids embeds ${cents.length} centroid vectors as plan literals — " +
        s"past the $MaxLiteralCentroids ceiling use the broadcast-join argmin " +
        "(ivfIndex's crossJoin(broadcast(centroids)) + per-id min) instead")
    val cands = cents.map { case (cellId, vec) =>
      struct((-cosine(col(vecCol), typedLit(vec))).as("d"), lit(cellId).as("cell"))
    }
    fresh.withColumn("cell", array_min(array(cands.toSeq: _*)).getField("cell"))
  }

  /**
   * Incremental IVF maintenance: append a fresh batch to an existing
   * index WITHOUT rebuilding — assign the batch to the EXISTING
   * centroids map-side ([[assignToCentroids]]) and union it into the
   * cell postings. At 100 TB this is the daily-ingest path: the
   * corpus-sized assignment is paid once at build, each append costs
   * one batch-sized projection (plus the postings write). Recall
   * erodes as the corpus drifts away from the centroids the index was
   * built around — the `embed_centroid_drift` monitor (vector-valued
   * per-dimension drift) is the REBUILD TRIGGER: rebuild when its
   * drift_micro crosses the alert line, append otherwise. Exactness
   * rider: probing all nLists cells over the merged index equals
   * brute force over corpus + batch (every vector lands in exactly
   * one cell), which the `sim_ivf_incremental` gate pins against the
   * DuckDB top-k oracle.
   */
  def ivfAppend(assigned: DataFrame, centroids: DataFrame, fresh: DataFrame,
                vecCol: String): DataFrame =
    assigned.unionByName(assignToCentroids(fresh, centroids, vecCol)
      .select(assigned.columns.map(col).toSeq: _*))

  /**
   * Product quantization (PQ): compress each vector to `m` small codes
   * (one per subspace) so the ANN index of a 100 TB corpus fits a
   * fraction of the memory — 64 float dims (256 B) become 8 codes
   * (8 B) at m=8. Codebooks are trained DRIVER-SIDE on a deterministic
   * hash-ordered sample with a few Lloyd iterations — metadata
   * (m x k x dim/m doubles), the same contract as IVF centroids; no
   * RNG anywhere, so train/encode/query reproduce bit-identically.
   */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                       dim: Int, m: Int = 8, k: Int = 16, iters: Int = 5,
                       sampleN: Int = 2048): Array[Array[Array[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    val sample: Array[Array[Double]] = corpus
      .select(col(idCol).as("_id"), col(vecCol).cast(ArrayType(DoubleType)).as("_v"))
      .orderBy(abs(xxhash64(col("_id"))), col("_id"))
      .limit(sampleN)
      .collect().map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "PQ training needs a non-empty corpus")
    Array.tabulate(m) { j =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      // deterministic init: first k DISTINCT subvectors in sample order
      val init = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      val seen = scala.collection.mutable.HashSet.empty[Seq[Double]]
      pts.iterator.takeWhile(_ => init.length < k).foreach { p =>
        if (seen.add(p.toSeq)) init += p.clone()
      }
      var cents = init.toArray
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val x = a(i) - b(i); s += x * x; i += 1 }
        s
      }
      (0 until iters).foreach { _ =>
        val sums = Array.fill(cents.length)(new Array[Double](sub))
        val counts = new Array[Long](cents.length)
        pts.foreach { p =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            val dd = d2(p, cents(c)); if (dd < bd) { bd = dd; best = c }; c += 1
          }
          counts(best) += 1
          var i = 0; while (i < sub) { sums(best)(i) += p(i); i += 1 }
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c) // empty cell keeps its centroid
          else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents
    }
  }

  /** Encode vectors to their per-subspace nearest-code indices: one
    * map-side pass through the native [[graft.functions.PqEncodeExpr]]
    * kernel (codebooks ride as a compact reference object, not
    * literals; ties break on the lower code, deterministically).
    * Output adds `pq_code` (array<int>, length m). */
  def pqEncode(df: DataFrame, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame =
    df.withColumn("pq_code", graft.functions.PqCodec.encode(
      col(vecCol).cast(ArrayType(DoubleType)), codebooks))

  /** ADC (asymmetric distance) top-k: the probe's per-(subspace, code)
    * distance table is computed once (m x k doubles, one reference
    * object in the [[graft.functions.PqAdcExpr]] kernel); each encoded
    * row scores with m lookups + adds — no vector arithmetic at query
    * time, and only the 8-byte codes ever scan. Approximate by design
    * (quantization error): rows-only at the gate, recall + zero-error
    * exactness pinned in PqSpec. */
  def pqTopK(encoded: DataFrame, probe: Array[Double],
             codebooks: Array[Array[Array[Double]]], k: Int,
             idCol: String = "vec_id",
             rerankVecCol: Option[String] = None,
             shortlistFactor: Int = 8): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val dtable: Array[Array[Double]] = Array.tabulate(m) { j =>
      codebooks(j).map { cent =>
        var s = 0.0; var i = 0
        while (i < sub) { val x = probe(j * sub + i) - cent(i); s += x * x; i += 1 }
        s
      }
    }
    val byAdc = encoded.withColumn("adc_dist",
      graft.functions.PqCodec.adc(col("pq_code"), dtable))
    rerankVecCol match {
      case None =>
        byAdc.orderBy(asc("adc_dist"), asc(idCol)).limit(k)
      case Some(vc) =>
        // shortlist by ADC (codes-only scan), exact re-rank only the
        // k*shortlistFactor survivors — the standard PQ serving shape:
        // quantization error decides the SHORTLIST, never the ranking.
        val v = col(vc).cast(ArrayType(DoubleType))
        val probeLit = array(probe.map(lit): _*)
        val pNorm2 = probe.map(x => x * x).sum
        val exact = dot(v, v) - lit(2.0) * dot(v, probeLit) + lit(pNorm2)
        byAdc.orderBy(asc("adc_dist"), asc(idCol)).limit(k * shortlistFactor)
          .withColumn("l2_dist", exact)
          .orderBy(asc("l2_dist"), asc(idCol)).limit(k)
    }
  }

  /** Persist codebooks next to the encoded corpus (build once, serve
    * many): one row per (subspace, code) with its centroid — readable
    * by any engine, versioned with the data it encodes. */
  def savePqCodebooks(spark: org.apache.spark.sql.SparkSession,
                      codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cents, j) =>
      cents.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
    }.toSeq.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Loads codebooks and VALIDATES the m x k x sub shape before they
    * are served: uniform subspace count / code count / centroid width
    * always (a jagged codebook mis-slices vectors executor-side), plus
    * the caller's expected dimensions when given — a cache dir whose
    * content doesn't match what the query would train must fail fast,
    * never answer. */
  def loadPqCodebooks(spark: org.apache.spark.sql.SparkSession, path: String,
                      expectM: Option[Int] = None, expectK: Option[Int] = None,
                      expectSub: Option[Int] = None): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(path)
      .select("subspace", "code", "centroid")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val cbs = rows.groupBy(_._1).toArray.sortBy(_._1).map { case (_, cs) =>
      cs.sortBy(_._2).map(_._3)
    }
    require(cbs.nonEmpty, s"codebooks at $path: empty")
    val k = cbs.head.length
    val sub = cbs.head.head.length
    require(cbs.forall(c => c.length == k && c.forall(_.length == sub)),
      s"codebooks at $path: jagged shape (expected uniform ${cbs.length} x $k x $sub)")
    expectM.foreach(m => require(cbs.length == m,
      s"codebooks at $path: m=${cbs.length}, expected $m"))
    expectK.foreach(ek => require(k == ek,
      s"codebooks at $path: k=$k, expected $ek"))
    expectSub.foreach(es => require(sub == es,
      s"codebooks at $path: sub=$sub, expected $es"))
    cbs
  }

  /** Batch multi-probe PQ serving (the RAG-eval shape over the
    * compressed index): every probe scores every CODE row via decoded
    * centroids (the [[graft.functions.PqAdcBatchExpr]] kernel —
    * codebooks ride as one compact reference object, m lookups + one
    * small fold per (row, probe)); the bounded heap shortlists by
    * ADC per probe ([[heapShortlist]] — shuffle rows track
    * probes·shortlist, never probes·corpus), and only
    * `k * shortlistFactor` survivors per probe touch the real
    * vectors for the exact re-rank. The full-precision corpus is
    * read once for the survivors; the scan that does the work is
    * 8-byte codes x probes. */
  def pqBatchTopK(encoded: DataFrame, probes: DataFrame,
                  codebooks: Array[Array[Array[Double]]], k: Int,
                  idCol: String = "vec_id", probeIdCol: String = "probe_id",
                  rerankVecCol: Option[String] = None,
                  shortlistFactor: Int = 8): DataFrame = {
    val adc = graft.functions.PqCodec.adcBatch(
      col("pq_code"), col("probe_e"), codebooks)
    val shortN = math.min(Int.MaxValue.toLong,
      k.toLong * rerankVecCol.fold(1L)(_ => shortlistFactor.toLong)).toInt
    // stage 1 scans (id, codes) only; ADC ranks per probe with the
    // bounded heap on the NEGATED distance ((0.0 - d) flips the order
    // exactly and maps a 0.0 self-distance to +0.0, so ties and
    // values survive the round trip bit-identically)
    val scored = encoded.select(col(idCol), col("pq_code"))
      .crossJoin(broadcast(probes))
      .withColumn("adc_dist", adc)
    val sel = heapShortlist(scored, probeIdCol, lit(0.0d) - col("adc_dist"),
      idCol, shortN).drop("rk")
    // the shortlist fetches its encoded rows back (codes ride along
    // for the caller) and recomputes adc_dist with the same kernel —
    // bit-identical to the scoring pass
    val shortlisted = fetchShortlist(encoded, sel, idCol)
      .join(broadcast(probes), Seq(probeIdCol))
      .withColumn("adc_dist", adc)
    rerankVecCol match {
      case None => shortlisted.drop("probe_e")
      case Some(vc) =>
        val v = col(vc).cast(ArrayType(DoubleType))
        val exact = dot(v, v) - lit(2.0) * dot(v, col("probe_e")) +
          dot(col("probe_e"), col("probe_e"))
        val wExact = org.apache.spark.sql.expressions.Window
          .partitionBy(probeIdCol).orderBy(asc("l2_dist"), asc(idCol))
        shortlisted.withColumn("l2_dist", exact)
          .withColumn("_rk", row_number().over(wExact))
          .filter(col("_rk") <= k)
          .drop("_rk", "probe_e")
    }
  }

  /**
   * IVF-PQ composed index — the standard production ANN architecture:
   * IVF cell partitioning bounds WHICH rows a query touches
   * (nProbe/nLists of the corpus; at 100 TB the corpus is partitioned
   * BY cell on disk so a probe is a partition read), and PQ codes
   * bound WHAT each touched row costs (m bytes scanned + m table
   * lookups). Vectors encode as RESIDUALS from their cell centroid:
   * recentring tightens the distribution each codebook must cover, so
   * the same code budget quantizes finer than raw PQ — the reason the
   * composition beats either tier alone. Returns (encoded corpus
   * carrying (cell, pq_code) beside the caller's columns, the
   * centroid table, codebooks trained on residuals).
   */
  def ivfPqIndex(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
                 nLists: Int = 16, m: Int = 8, k: Int = 16)
      : (DataFrame, DataFrame, Array[Array[Array[Double]]]) = {
    val (assigned, centroids) = ivfIndex(corpus, idCol, vecCol, nLists)
    val withRes = assigned.join(broadcast(centroids), "cell")
      .withColumn("_res",
        expr(s"zip_with(cast($vecCol as array<double>), centroid, (x, y) -> x - y)"))
    val cbs = trainPqCodebooks(withRes, idCol, "_res", dim, m, k)
    // materialize the encoded index (the ivfIndex discipline: this IS
    // the persisted artifact — the ADC scan and the shortlist
    // fetch-back both read it, and re-encoding per read costs m×k
    // distance folds per row per pass); the assignment table it was
    // derived from frees — nothing reads it once the codes exist
    val enc = pqEncode(withRes, "_res", cbs).drop("_res", "centroid")
      .checkpointed()
    Checkpoints.free(assigned)
    (enc, centroids, cbs)
  }

  /**
   * Incremental IVF-PQ maintenance — the composed append path: assign
   * the fresh batch to the EXISTING centroids map-side
   * ([[assignToCentroids]]), residual-encode it against the EXISTING
   * codebooks (one broadcast centroid join + the codegen'd PQ argmin
   * — both batch-sized), and union the codes into the index. Nothing
   * corpus-sized runs: the daily-ingest cost is the batch's
   * assignment + encode, with `embed_centroid_drift` as the rebuild
   * trigger exactly as [[ivfAppend]]. Exactness rider: with
   * nProbe = nLists and an exact re-rank the merged index equals
   * brute force over corpus + batch (`sim_ivfpq_incremental`).
   */
  def ivfPqAppend(encoded: DataFrame, centroids: DataFrame,
                  codebooks: Array[Array[Array[Double]]], fresh: DataFrame,
                  vecCol: String): DataFrame = {
    val assigned = assignToCentroids(fresh, centroids, vecCol)
    val withRes = assigned.join(broadcast(centroids), "cell")
      .withColumn("_res",
        expr(s"zip_with(cast($vecCol as array<double>), centroid, (x, y) -> x - y)"))
    encoded.unionByName(
      pqEncode(withRes, "_res", codebooks).drop("_res", "centroid")
        .select(encoded.columns.map(col).toSeq: _*))
  }

  /**
   * Query the IVF-PQ index: probe the `nProbe` cells nearest the
   * probe vector (by the assignment's own metric — cosine — over the
   * metadata-sized centroid set), ADC-score ONLY rows in probed cells
   * in ONE pass: an isin cell filter (a partition read on a
   * cell-partitioned corpus, never a full scan) with each probed
   * cell's residual distance table (the probe re-expressed relative
   * to that cell's centroid) dispatched through a CASE on the cell
   * column. The
   * ADC shortlist then optionally re-ranks exactly, same contract as
   * [[pqTopK]]: quantization error decides the shortlist, never the
   * final ranking. With nProbe = nLists and a shortlist wider than
   * the corpus the result is EXACT L2 top-k by construction — the
   * `sim_ivfpq_exact` gate twin.
   */
  def ivfPqTopK(encoded: DataFrame, centroids: DataFrame,
                codebooks: Array[Array[Array[Double]]], probe: Array[Double],
                k: Int, nProbe: Int = 4, idCol: String = "vec_id",
                rerankVecCol: Option[String] = None,
                shortlistFactor: Int = 8): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val cents = centroids.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    // probe-cell selection uses the SAME metric as the assignment
    // (cosine, ivfIndex): ranking cells by L2 here would search a
    // different cell set than the one the index partitioned by and
    // recall would silently drop toward chance on unnormalized data
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probed = cents.map { case (cell, c) => (cell, c, cos(probe, c)) }
      .sortBy { case (cell, _, s) => (-s, cell) }.take(nProbe)
    // ONE pass over the probed subset: per-cell residual distance
    // tables dispatch through a chained CASE on the cell column — a
    // union of per-cell filtered branches would re-execute the whole
    // assignment+encode subtree once per probed cell inside a single
    // action (measured nProbe x the work)
    val dtables = probed.map { case (cell, cent, _) =>
      cell -> Array.tabulate(m) { j =>
        codebooks(j).map { cw =>
          var s = 0.0; var i = 0
          while (i < sub) {
            val x = (probe(j * sub + i) - cent(j * sub + i)) - cw(i)
            s += x * x; i += 1
          }
          s
        }
      }
    }
    val adcByCell = dtables.foldLeft(lit(null).cast(DoubleType)) {
      case (acc, (cell, dtable)) =>
        when(col("cell") === cell,
          graft.functions.PqCodec.adc(col("pq_code"), dtable)).otherwise(acc)
    }
    val byAdc = encoded
      .filter(col("cell").isin(dtables.map(_._1.asInstanceOf[Any]).toIndexedSeq: _*))
      .withColumn("adc_dist", adcByCell)
    // k * shortlistFactor can overflow Int for the exhaustive twin
    val shortN = math.min(Int.MaxValue.toLong, k.toLong * shortlistFactor).toInt
    rerankVecCol match {
      case None => byAdc.orderBy(asc("adc_dist"), asc(idCol)).limit(k)
      case Some(vc) =>
        val v = col(vc).cast(ArrayType(DoubleType))
        val probeLit = array(probe.map(lit): _*)
        val pNorm2 = probe.map(x => x * x).sum
        val exact = dot(v, v) - lit(2.0) * dot(v, probeLit) + lit(pNorm2)
        byAdc.orderBy(asc("adc_dist"), asc(idCol)).limit(shortN)
          .withColumn("l2_dist", exact)
          .orderBy(asc("l2_dist"), asc(idCol)).limit(k)
    }
  }

  /**
   * BATCH IVF-PQ serving — probe BATCHES against the composed index:
   * [[ivfPqTopK]] builds per-cell residual distance tables
   * driver-side and dispatches them through a CASE on the cell
   * column, which is exactly right for ONE probe and exactly wrong
   * for a batch (a 1,000-probe batch would mean 1,000 driver-built
   * subplans — the shape `sim_ivfpq_recall` had to hand-roll for its
   * 20 probes before this operator existed). Here the residual
   * recentring moves INTO the probed-cell frame: each (probe, cell)
   * row of [[probedCells]] carries `probe_res = probe_e − centroid`
   * (one zip_with over metadata-sized rows), the cell equi-join
   * lands each encoded row beside every probing (probe, cell), and
   * the codegen'd [[graft.functions.PqAdcBatchExpr]] kernel scores
   * codes against `probe_res` — by the residual-code construction
   * that IS the per-(probe, cell) distance table, computed once per
   * (probe, cell) pair, never per corpus row, and bit-identical to
   * the single-probe dtables (x² = (−x)²; same fold order — pinned
   * by PqSpec). ADC shortlists per probe; only `k × shortlistFactor`
   * survivors per probe touch the real vectors for the exact
   * re-rank, same contract as [[pqBatchTopK]].
   *
   * Scale posture: the corpus-side scan is probed cells' CODES only
   * (m bytes/row × the cell-pruned slice); wall tracks the probe
   * batch at fixed corpus (SCALE ivfbatch). Exactness rider:
   * nProbe = nLists + a shortlist wider than the corpus equals exact
   * per-probe L2 top-k whatever the codebooks learned — the
   * `sim_ivfpq_batch_topk` gate. `probes` columns: (`probeIdCol`,
   * `probe_e: array<double>`). Output: the [[batchTopK]] contract —
   * corpus columns + `adc_dist` (+ `l2_dist` when reranking) + the
   * per-probe rank `rk`.
   */
  def ivfPqBatchTopK(encoded: DataFrame, centroids: DataFrame,
                     codebooks: Array[Array[Array[Double]]], probes: DataFrame,
                     k: Int, nProbe: Int = 4, idCol: String = "vec_id",
                     probeIdCol: String = "probe_id",
                     rerankVecCol: Option[String] = None,
                     shortlistFactor: Int = 8): DataFrame = {
    val pc = probedCells(centroids, probes, nProbe, probeIdCol)
      // the probe re-expressed in each probed cell's residual frame:
      // codes are residuals from their cell centroid, so ADC against
      // (probe − centroid) IS that cell's residual distance table
      .withColumn("probe_res", expr("zip_with(probe_e, centroid, (x, y) -> x - y)"))
      .select(col(probeIdCol), col("probe_e"), col("probe_res"), col("cell"))
    // k * shortlistFactor can overflow Int for the exhaustive twin
    val shortN = math.min(Int.MaxValue.toLong,
      k.toLong * rerankVecCol.fold(1L)(_ => shortlistFactor.toLong)).toInt
    // the ADC stage scans (id, codes, cell) of the probed cells only;
    // the per-probe shortlist is the bounded heap on the NEGATED
    // distance ((0.0 - d) flips the order exactly and round-trips
    // every value, ±0.0 included), so a probe's cell slice never
    // funnels into one window task
    val scored = encoded.select(col(idCol), col("pq_code"), col("cell"))
      .join(broadcast(pc), "cell")
      .withColumn("adc_dist",
        graft.functions.PqCodec.adcBatch(col("pq_code"), col("probe_res"), codebooks))
    val sel = heapShortlist(scored, probeIdCol, lit(0.0d) - col("adc_dist"),
      idCol, shortN)
    val shortlisted = fetchShortlist(
        encoded, sel.withColumn("adc_dist", lit(0.0d) - col("_sel_val")), idCol)
      .join(broadcast(probes), Seq(probeIdCol))
    rerankVecCol match {
      // no rerank: shortN == k, so the ADC heap rank IS the output
      // rank — surfaced as `rk` per the batchTopK output contract
      case None => shortlisted.drop("probe_e", "cell")
      case Some(vc) =>
        val v = col(vc).cast(ArrayType(DoubleType))
        val exact = dot(v, v) - lit(2.0) * dot(v, col("probe_e")) +
          dot(col("probe_e"), col("probe_e"))
        val wExact = org.apache.spark.sql.expressions.Window
          .partitionBy(probeIdCol).orderBy(asc("l2_dist"), asc(idCol))
        shortlisted.drop("rk").withColumn("l2_dist", exact)
          .withColumn("rk", row_number().over(wExact))
          .filter(col("rk") <= k)
          .drop("probe_e", "cell")
    }
  }

  /** All near-duplicate embedding pairs (cosine >= threshold) via
    * signature-bucket candidates + exact verify — the embedding
    * analog of MinHash near-dup. Buckets on 4-bit signature chunks
    * (pigeonhole: hamming <= nChunks-1 pairs always share a chunk).
    *
    * Candidates come from a (chunk_i, chunk_v)-keyed SELF-JOIN over
    * (id, sig) rows only — unlike the MinHash/SimHash buckets, this
    * key has just 4x16 distinct values, so the in-row bucket-expansion
    * trick would materialize a quadratic array in one row; the join
    * streams the same pairs incrementally. Vector arrays join on
    * AFTER the hamming filter and pair distinct, so the heavy payload
    * never rides the candidate shuffle. */
  def embeddingNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                        dim: Int, threshold: Double,
                        nBits: Int = 16, maxHamming: Int = 3): DataFrame = {
    val chunks = corpus.withColumn("sig", signature(col(vecCol), dim, nBits))
      .select(col(idCol), col("sig"),
        posexplode(expr("transform(sequence(0, 3), c -> (sig >> (c * 4)) & 15)"))
          .as(Seq("chunk_i", "chunk_v")))
    val ca = chunks.select(col(idCol).as("id_a"), col("sig").as("sig_a"), col("chunk_i"), col("chunk_v"))
    val cb = chunks.select(col(idCol).as("id_b"), col("sig").as("sig_b"), col("chunk_i"), col("chunk_v"))
    val cands = ca.join(cb, Seq("chunk_i", "chunk_v"))
      .filter(col("id_a") < col("id_b"))
      .filter(expr(s"bit_count(sig_a ^ sig_b) <= $maxHamming"))
      .select("id_a", "id_b")
      .distinct()
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    cands.join(a, "id_a").join(b, "id_b")
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }

  /**
   * EXACT cosine near-dup join via unit-sphere grid blocking — the
   * embedding-space analog of the prefix-filtered set join: provably
   * equal to the quadratic all-pairs form, no recall caveat.
   *
   * Geometry: cos(a,b) >= t implies the NORMALIZED vectors satisfy
   * ||u_a - u_b||^2 = 2(1 - cos) <= 2(1 - t), so per coordinate
   * |u_i(a) - u_i(b)| <= w = sqrt(2(1-t)). Quantize the first
   * `blockDims` normalized coordinates to integer thousandths
   * (q = floor(u*1000): |Δq| <= 1000w + 1 <= W by the +1 slack,
   * which also absorbs the few-ulp FP error of the normalization)
   * and bin with width W: qualifying pairs land in cells differing
   * by at most 1 per dimension — INTEGER arithmetic end to end, so
   * the cover is exact, not probabilistic. One side joins on its
   * (unique) home cell, the other explodes to its 3^d neighborhood;
   * a pair can match in at most one probe cell, so candidates are
   * already distinct. Exact cosine verification then reproduces the
   * all-pairs output bit for bit.
   *
   * Scale shape — stated honestly: the probe explode is a bounded
   * 3^blockDims fan-out of one side and the join is a hash join on
   * the cell key, confining the quadratic blow-up to single cells.
   * Pruning power is ~(spread/(3·w))^blockDims, where spread is the
   * per-coordinate range of the normalized data: strong exactly when
   * the cell width w = sqrt(2(1-t)) is SMALL relative to the
   * coordinate spread — i.e. for true near-dup thresholds (t >=
   * ~0.99, w <= 0.14). For isotropic d-dim embeddings the coordinate
   * spread is only ~2/sqrt(d), so at looser thresholds one cell can
   * cover most of the mass and the join degrades toward all-pairs
   * (use the LSH form there — at loose thresholds NO exact method
   * prunes isotropic data). Exactness is unconditional either way;
   * only the pruning ratio varies. Zero-norm vectors quantize to
   * null cells and drop, matching the quadratic form (their NaN
   * cosine fails every >= t filter).
   */
  def exactBlockedNearDups(corpus: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, blockDims: Int = 2): DataFrame = {
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    val W = math.ceil(math.sqrt(2.0 * (1.0 - threshold)) * 1000.0).toLong + 1
    val binned = (0 until blockDims).foldLeft(
      corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))) { (d, i) =>
      // +1000000 shift keeps the dividend positive so truncating
      // `div` IS floor division (bins must floor or the |Δ|<=1
      // adjacency property breaks for negative coordinates)
      d.withColumn(s"b_$i",
        expr(s"(cast(floor(element_at(v, ${i + 1}) / nrm * 1000.0) as bigint) + 1000000) div $W"))
    }
    val dims = 0 until blockDims
    // norms ride the join sides: computed once per VECTOR, not once
    // per candidate pair — same expression fold, so na*nb is
    // bit-identical to the per-pair sqrt(dot(a,a))*sqrt(dot(b,b))
    val home = binned.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), struct(dims.map(i => col(s"b_$i")): _*).as("cell"))
    val offsets = dims.foldLeft(Seq(Seq.empty[Int]))((acc, _) =>
      acc.flatMap(o => Seq(-1, 0, 1).map(o :+ _)))
    val probeCells = offsets.map(o =>
      struct(dims.map(i => (col(s"b_$i") + o(i)).as(s"b_$i")): _*))
    val probe = binned.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), explode(array(probeCells: _*)).as("cell"))
    home.join(probe, Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
  }
}
