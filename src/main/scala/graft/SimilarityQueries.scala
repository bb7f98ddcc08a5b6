package graft

import graft.operators.Checkpoints.Checkpointed
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Embedding similarity operators over `embeddings`
 * (SURVEY.md §2.8): brute-force cosine top-k as the correctness
 * baseline, per-vector norms, and binary/multimodal column plumbing.
 *
 * All vector math is done in DOUBLE after an explicit element cast —
 * float accumulation order would otherwise make Spark and the DuckDB
 * oracle drift in the last ulp. `aggregate()` folds the array
 * sequentially (deterministic), matching DuckDB's list functions.
 *
 * Scale posture: the probe side is a broadcast of one row — the
 * cross join is map-side, no shuffle of the big side; top-k is a
 * TakeOrdered (no global sort materialization). The LSH-bucketed ANN
 * variant (graft.operators.Similarity) replaces the linear scan at
 * 100 TB; this exact query doubles as its recall oracle.
 */
object SimilarityQueries {

  /** dot(a, b) over array<double> columns — the native codegen
    * DotProduct expression (bit-identical to the sequential
    * aggregate/zip_with fold, ~10x faster on the pair hot path). */
  private def dot(a: String, b: String) =
    graft.functions.VectorOps.dot(col(a), col(b))

  /** Build-once-per-corpus-CONTENT-fingerprint persisted projection
    * (the bm25IndexTables/pq_cb discipline): the table lands as
    * parquet under the owner-only CacheDirs.root keyed by the corpus
    * fingerprint, gated on the committer's _SUCCESS (a half-written
    * dir rebuilds instead of serving partials), and every later
    * invocation READS it. All four precision-ladder rungs below are
    * per-row-deterministic map-side projections, so appends are the
    * same projection over the fresh batch and append == rebuild
    * (spec-pinned per rung in DedupSimilaritySpec). */
  private def embProjectionCached(s: org.apache.spark.sql.SparkSession,
                                  dir: String, key: String)(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val fp = Tables.fingerprint(s, s"$dir/embeddings.parquet")
    val path = s"${CacheDirs.root}/${key}_$fp"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) {
      if (fs.exists(p)) fs.delete(p, true)
      val emb = Tables.t(s, dir, "embeddings")
        .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
      build(emb).write.parquet(path)
    }
    s.read.parquet(path)
  }

  /** The PERSISTED corpus signature table (VERDICT r17 #3): (vec_id,
    * sig) — the LSH serving forms then touch 16 B/row for candidates
    * and the float vectors only candidate-sized. */
  def sigTableCached(s: org.apache.spark.sql.SparkSession, dir: String,
                     nBits: Int = 16): org.apache.spark.sql.DataFrame =
    embProjectionCached(s, dir, s"sigtab$nBits")(
      graft.operators.Similarity.signatureTable(_, "vec_id", "e", 64, nBits))

  /** The persisted packed-sign-bits table (the 1-bit rung): (vec_id,
    * lo, hi) — Hamming serving reads 16 B/row, floats only at the
    * re-rank stage. */
  def bitsTableCached(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame =
    embProjectionCached(s, dir, "bitstab")(
      graft.operators.Similarity.signBitsTable(_, "vec_id", "e"))

  /** The persisted Matryoshka prefix table (dPrefix leading dims):
    * (vec_id, e_prefix) — stage 1 of mrlBatchTopK reads dPrefix/dim
    * of the float bytes (VERDICT r18 #4: the gates previously rebuilt
    * this projection inline per call). */
  def prefixTableCached(s: org.apache.spark.sql.SparkSession, dir: String,
                        dPrefix: Int): org.apache.spark.sql.DataFrame =
    embProjectionCached(s, dir, s"pfxtab$dPrefix")(
      graft.operators.Similarity.prefixTable(_, "vec_id", "e", dPrefix))

  /** The persisted INT8 scalar-quantization table (the 8-bit rung):
    * (vec_id, q) — stage 1 of sq8BatchTopK reads 1 B/dim. */
  def sq8TableCached(s: org.apache.spark.sql.SparkSession,
                     dir: String): org.apache.spark.sql.DataFrame =
    embProjectionCached(s, dir, "sq8tab")(
      graft.operators.Similarity.sq8Table(_, "vec_id", "e"))

  /** The persisted PQ codebooks (m=8, k=16 over 64 dims), trained once
    * per corpus CONTENT fingerprint and loaded on every later call —
    * factored out of the sim_pq_topk gate so graft.Bench can time the
    * build as its own row (VERDICT r19 #3: the bench must pay the
    * index builds visibly). Cache key = content fingerprint (codebooks
    * trained on a previous corpus must never serve a regenerated one);
    * _SUCCESS-gated (a half-written dir retrains rather than loading
    * partials); owner-only CacheDirs.root (a pre-created
    * world-writable dir would be loaded blindly); loadPqCodebooks
    * validates the m × k × sub shape, so a stale/corrupt cache fails
    * fast instead of serving garbage. */
  def pqCodebooksCached(s: org.apache.spark.sql.SparkSession,
                        dir: String): Array[Array[Array[Double]]] = {
    val fp = Tables.fingerprint(s, s"$dir/embeddings.parquet")
    val cbPath = s"${CacheDirs.root}/pq_cb_$fp"
    val marker = new org.apache.hadoop.fs.Path(s"$cbPath/_SUCCESS")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(marker))
      graft.operators.Similarity.loadPqCodebooks(s, cbPath,
        expectM = Some(8), expectK = Some(16), expectSub = Some(64 / 8))
    else {
      val emb = Tables.t(s, dir, "embeddings")
        .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
      val trained = graft.operators.Similarity.trainPqCodebooks(
        emb, "vec_id", "e", dim = 64, m = 8, k = 16)
      // a concurrent run never observes a half-written dir (training
      // is deterministic, so a lost publish race loses nothing)
      graft.sinks.Commit.publishIfAbsent(s, cbPath)(
        graft.operators.Similarity.savePqCodebooks(s, trained, _))
      trained
    }
  }

  /** Average-hash fingerprints over the documents-as-media corpus:
    * (media_id, n_bytes, mean_b, contrast, phash_hi, phash_lo) — the
    * first 64 payload bytes stand in for the 8x8 grayscale grid
    * (decode stub), bit j = byte_j > floor(mean), packed into two
    * 32-bit halves. Map-side where the bytes live; only the
    * fingerprints shuffle. Shared by the fingerprint report and the
    * banded near-dup join. */
  private def phashTable(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val media = graft.multimodal.Multimodal.asMedia(
      Tables.t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "text/utf-8")
    graft.multimodal.Multimodal.frameSample(media, frameSize = 64, everyK = 1)
      .filter(_.frame_idx == 0)
      .map { f =>
        val n = f.frame.length
        var sum = 0L; var mx = 0L; var mn = 255L; var i = 0
        while (i < n) {
          val u = (f.frame(i) & 0xff).toLong
          sum += u; if (u > mx) mx = u; if (u < mn) mn = u; i += 1
        }
        val mean = sum / n
        var lo = 0L; var hi = 0L; i = 0
        while (i < n) {
          if ((f.frame(i) & 0xff).toLong > mean) {
            if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
          }
          i += 1
        }
        (f.media_id, n, mean, mx - mn, hi, lo)
      }
      .toDF("media_id", "n_bytes", "mean_b", "contrast", "phash_hi", "phash_lo")
  }

  val all: Seq[Q] = Seq(

    Q("sim_bruteforce_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("e").as("probe_e"))
        graft.operators.Similarity
          .bruteForceTopK(emb.filter(col("vec_id") =!= 0), probe, "e", 10)
          .select(col("vec_id"), col("label"), col("cos_sim"))
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- truncated-embedding retrieval (matryoshka serving): top-k
    //      by cosine over the FIRST 16 of 64 dims — the cheap
    //      first-stage whose production composition is
    //      truncate-shortlist -> full-dim re-rank (4x less memory
    //      traffic and 4x more vectors per cache line in stage one).
    //      The truncated metric itself is exact cross-engine: both
    //      sides slice the same doubles and sum in list order. ----
    Q("sim_truncated_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", slice(col("embedding").cast(ArrayType(DoubleType)), 1, 16))
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("e").as("probe_e"))
        graft.operators.Similarity
          .bruteForceTopK(emb.filter(col("vec_id") =!= 0), probe, "e", 10)
          .select(col("vec_id"), col("label"), col("cos_sim"))
      },
      Some("""WITH e AS (SELECT vec_id, label, (embedding::DOUBLE[])[1:16] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- one PCA power-iteration step in EXACT integer arithmetic:
    //      v' = Xᵀ(X·w) over the round(v·1000)-quantized corpus with
    //      the all-ones start vector — so v'_j = Σ_rows q_j · (Σ_k q_k),
    //      pure BIGINT. The identity Xᵀ(Xw) = (XᵀX)w means the Gram
    //      matrix is NEVER materialized: each further iteration is
    //      the same one-pass shape with w = the previous (metadata-
    //      sized, 64-long) result broadcast into the row-dot — the
    //      distributed PCA building block for embedding whitening /
    //      dimensionality reduction. One map-side row dot + one
    //      64-key aggregation; nothing corpus-sized shuffles. ----
    Q("embed_pca_power_step",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("q", expr(
            "transform(cast(embedding as array<double>), x -> CAST(round(x * 1000) AS BIGINT))"))
          .withColumn("srow", expr("aggregate(q, 0L, (a, x) -> a + x)"))
        emb.select(col("srow"), posexplode(col("q")).as(Seq("pos", "qi")))
          .groupBy("pos")
          .agg(sum(col("qi") * col("srow")).as("v1"))
          .orderBy("pos")
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding::DOUBLE[],
             |                   x -> CAST(round(x * 1000) AS BIGINT)) AS q
             |  FROM embeddings),
             |r AS (SELECT q, CAST(list_sum(q) AS BIGINT) AS srow FROM e),
             |d AS (SELECT CAST(i - 1 AS INTEGER) AS pos, q[i] AS qi, srow
             |      FROM (SELECT q, srow, unnest(generate_series(1, len(q))) AS i FROM r))
             |SELECT pos, CAST(SUM(qi * srow) AS BIGINT) AS v1
             |FROM d GROUP BY pos ORDER BY pos""".stripMargin)),

    // ---- TWO power-iteration steps — the proof the one-step shape
    //      composes: v2 = Xᵀ(X·v1) with v1 the first step's 64-long
    //      BIGINT vector (joined in at metadata size). Row dots
    //      q·v1 stay in BIGINT (~2e17); the second projection's
    //      products (~6e20) graduate to DECIMAL(38,0)/HUGEINT —
    //      exactly the promotion the one-step Scaladoc promises at
    //      corpus scale, demonstrated cross-engine-exact here. Still
    //      two map-side joins + two bounded-key aggregations; the
    //      Gram matrix is never built. ----
    Q("embed_pca_two_steps",
      (s, dir) => {
        val d = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"),
            posexplode(expr(
              "transform(cast(embedding as array<double>), x -> CAST(round(x * 1000) AS BIGINT))"))
              .as(Seq("pos", "q")))
        val v1 = d.groupBy("vec_id").agg(sum("q").as("srow"))
          .join(d, "vec_id")
          .groupBy("pos").agg(sum(col("q") * col("srow")).as("w"))
        val rowdot = d.join(broadcast(v1), "pos")
          .groupBy("vec_id").agg(sum(col("q") * col("w")).as("t"))
        d.join(rowdot, "vec_id")
          .groupBy("pos")
          .agg(sum(expr("CAST(q AS DECIMAL(38,0)) * t")).as("v2raw"))
          // both engines ferry the 128-bit-scale integer as a STRING:
          // decimal vs hugeint physical types would never hash-match
          .select(col("pos"), expr("CAST(CAST(v2raw AS DECIMAL(38,0)) AS STRING)").as("v2"))
          .orderBy("pos")
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding::DOUBLE[],
             |                   x -> CAST(round(x * 1000) AS BIGINT)) AS q
             |  FROM embeddings),
             |d AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos, q[i] AS qi
             |      FROM (SELECT vec_id, q, unnest(generate_series(1, len(q))) AS i FROM e)),
             |v1 AS (SELECT d.pos, CAST(SUM(d.qi * r.srow) AS BIGINT) AS w
             |       FROM d JOIN (SELECT vec_id, CAST(SUM(qi) AS BIGINT) AS srow
             |                    FROM d GROUP BY 1) r USING (vec_id)
             |       GROUP BY d.pos),
             |rowdot AS (SELECT vec_id, CAST(SUM(qi * w) AS BIGINT) AS t
             |           FROM d JOIN v1 USING (pos) GROUP BY 1)
             |SELECT pos, CAST(SUM(qi::HUGEINT * t) AS VARCHAR) AS v2
             |FROM d JOIN rowdot USING (vec_id)
             |GROUP BY pos ORDER BY pos""".stripMargin)),

    Q("embed_norms",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        emb.select(col("vec_id"), col("label"),
            size(col("e")).as("dim"),
            sqrt(dot("e", "e")).as("l2_norm"))
          .orderBy("vec_id")
      },
      Some("""SELECT vec_id, label, CAST(len(embedding) AS INTEGER) AS dim,
             |sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2_norm
             |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- nearest-centroid classification over the embedding corpus:
    //      per-label mean centroids, each vector assigned to the
    //      EUCLIDEAN-closest one, confusion counts out — the
    //      label-quality / cluster-purity report of an embedding
    //      pipeline. Cross-row float summation is NOT cross-engine
    //      deterministic, so components are quantized to integers
    //      (round(v*1000) — exact .5 rounds away-from-zero in both
    //      engines) and centroid sums / dot products / squared norms
    //      live in exact BIGINT. With centroid c̄ = cq/cn,
    //      argmin ||q − c̄||² = argmin (−2·dot(q,cq)/cn + ||cq||²/cn²):
    //      the per-vector ||q||² term is constant and drops; the two
    //      divisions are double ops on identical integers in both
    //      engines. Scale: centroids are |labels| × dims = metadata
    //      (broadcast); scoring multiplies rows by |labels| only. ----
    Q("embed_centroid_classify",
      (s, dir) => {
        val d = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            posexplode(col("embedding").cast(ArrayType(DoubleType))).as(Seq("pos", "v")))
          .withColumn("q", round(col("v") * 1000).cast(LongType))
        val cent = d.groupBy(col("label").as("c_label"), col("pos"))
          .agg(sum("q").as("cq"), count(lit(1)).as("cn"))
        val scores = d.join(broadcast(cent), Seq("pos"))
          .groupBy(col("vec_id"), col("label"), col("c_label"))
          .agg(sum(col("q") * col("cq")).as("dt"),
            sum(col("cq") * col("cq")).as("ssq"), max("cn").as("cn"))
          .withColumn("dist2",
            lit(-2.0) * col("dt").cast(DoubleType) / col("cn") +
              // cn² in DOUBLE (exact below 2^53): long·long would
              // ANSI-overflow at extreme group sizes
              col("ssq").cast(DoubleType) /
                (col("cn").cast(DoubleType) * col("cn").cast(DoubleType)))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(asc("dist2"), asc("c_label"))
        scores.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .groupBy(col("label"), col("c_label").as("predicted_label"))
          .agg(count(lit(1)).as("n"))
          .orderBy("label", "predicted_label")
      },
      Some("""WITH d AS (
             |  SELECT vec_id, label, i AS pos, CAST(round(v[i] * 1000) AS BIGINT) AS q
             |  FROM (SELECT vec_id, label, embedding::DOUBLE[] AS v,
             |          unnest(generate_series(1, len(embedding))) AS i FROM embeddings)),
             |cent AS (SELECT label AS c_label, pos, CAST(SUM(q) AS BIGINT) AS cq,
             |           COUNT(*) AS cn
             |         FROM d GROUP BY 1, 2),
             |sc AS (SELECT d.vec_id, d.label, c.c_label,
             |         CAST(SUM(d.q * c.cq) AS BIGINT) AS dt,
             |         CAST(SUM(c.cq * c.cq) AS BIGINT) AS ssq, MAX(c.cn) AS cn
             |       FROM d JOIN cent c USING (pos) GROUP BY 1, 2, 3),
             |pr AS (SELECT vec_id, label, c_label,
             |         ROW_NUMBER() OVER (PARTITION BY vec_id
             |           ORDER BY -2.0 * CAST(dt AS DOUBLE) / cn
             |                    + CAST(ssq AS DOUBLE) / (cn * cn) ASC, c_label) AS rn
             |       FROM sc)
             |SELECT label, c_label AS predicted_label, COUNT(*) AS n
             |FROM pr WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- one Lloyd iteration of k-means (k=8, seeds = vec_id < 8):
    //      the iterative-ML primitive as a declarative plan. Seeds are
    //      metadata (k x dims, broadcast); assignment is the same
    //      exact-integer argmin as the classify query — with
    //      single-vector seeds the score collapses to ssq - 2*dot,
    //      pure BIGINT, no float ties; the update step is one groupBy
    //      producing the new centroids. Each further iteration would
    //      repeat the same two stages with the new (still metadata-
    //      sized) centroids. ----
    Q("kmeans_lloyd_step",
      (s, dir) => {
        val d = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"),
            posexplode(col("embedding").cast(ArrayType(DoubleType))).as(Seq("pos", "v")))
          .withColumn("q", round(col("v") * 1000).cast(LongType))
        val seeds = d.filter(col("vec_id") < 8)
          .select(col("vec_id").as("c_id"), col("pos"), col("q").as("cq"))
        val assign = d.join(broadcast(seeds), Seq("pos"))
          .groupBy(col("vec_id"), col("c_id"))
          .agg((sum(col("cq") * col("cq")) - lit(2L) * sum(col("q") * col("cq"))).as("score"))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("vec_id").orderBy(asc("score"), asc("c_id"))))
          .filter(col("rn") === 1).select("vec_id", "c_id")
        d.join(assign, "vec_id")
          .groupBy(col("c_id").as("cluster_id"), col("pos"))
          .agg((sum("q").cast(DoubleType) / count(lit(1)) / 1000.0).as("new_mean"),
            count(lit(1)).as("n_members"))
          .orderBy("cluster_id", "pos")
      },
      Some("""WITH d AS (
             |  SELECT vec_id, CAST(i - 1 AS INTEGER) AS pos,
             |         CAST(round(v[i] * 1000) AS BIGINT) AS q
             |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
             |          unnest(generate_series(1, len(embedding))) AS i FROM embeddings)),
             |seeds AS (SELECT vec_id AS c_id, pos, q AS cq FROM d WHERE vec_id < 8),
             |sc AS (SELECT d.vec_id, s.c_id,
             |         CAST(SUM(s.cq * s.cq) - 2 * SUM(d.q * s.cq) AS BIGINT) AS score
             |       FROM d JOIN seeds s USING (pos) GROUP BY 1, 2),
             |a AS (SELECT vec_id, c_id FROM (
             |        SELECT vec_id, c_id,
             |          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, c_id) AS rn
             |        FROM sc) WHERE rn = 1)
             |SELECT a.c_id AS cluster_id, d.pos,
             |  CAST(CAST(SUM(d.q) AS BIGINT) AS DOUBLE) / COUNT(*) / 1000.0 AS new_mean,
             |  COUNT(*) AS n_members
             |FROM d JOIN a USING (vec_id) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- multimodal plumbing: opaque binary column + typed metadata.
    //      The "decode" stage is a stub (no image/audio libs here);
    //      the Spark-side schema/bytes handling is real. ----
    Q("multimodal_meta",
      (s, dir) => Tables.t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8")) // binary column
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          hex(encode(substring(col("text"), 1, 4), "UTF-8")).as("head_hex"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             |hex(encode(substring(text, 1, 4))) AS head_hex
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- modality-coverage / embedding-backlog audit: the join a
    //      multimodal pipeline runs before training — which documents
    //      have their embedding landed, which are still pending
    //      (vec_id % 7 = 0 withheld here as "not yet embedded"), per
    //      source, with pending permille. Broadcast-sized embedded-id
    //      set? NO — at 100 TB both sides are data-scaled, so this is
    //      a plain LEFT SEMI/ANTI pair expressed as one left join on
    //      the shared id followed by a combinable per-source count
    //      aggregate: one keyed shuffle, no distinct, no window. ----
    Q("multimodal_modality_coverage",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val landed = Tables.t(s, dir, "embeddings")
          .filter(col("vec_id") % 7 =!= 0)
          .select(col("vec_id").as("doc_id"), lit(1).as("has_emb"))
        docs.join(landed, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            count(col("has_emb")).as("n_embedded"),
            (count(lit(1)) - count(col("has_emb"))).as("n_pending"))
          .withColumn("pending_pm",
            expr("(1000 * n_pending) div n_docs"))
          .orderBy("source")
      },
      Some("""SELECT source, COUNT(*) AS n_docs,
             |  COUNT(e.vec_id) AS n_embedded,
             |  COUNT(*) - COUNT(e.vec_id) AS n_pending,
             |  (1000 * (COUNT(*) - COUNT(e.vec_id))) // COUNT(*) AS pending_pm
             |FROM documents d LEFT JOIN embeddings e
             |  ON d.doc_id = e.vec_id AND e.vec_id % 7 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- partition-batched multimodal feature extraction (decode
    //      stubbed — see graft.multimodal.Multimodal): the byte-level
    //      checksum is reproduced by the oracle's list_reduce over the
    //      UTF-8 bytes (ASCII corpus: bytes == codepoints). ----
    Q("multimodal_features",
      (s, dir) => graft.multimodal.Multimodal.documentFeatures(s, dir)
        .select(col("media_id"), col("modality"), col("n_bytes"), col("checksum"))
        .orderBy("media_id"),
      // oracle iterates UTF-8 BYTES (hex-pair extraction) to match the
      // byte-hashing decode stub — a code-point fold would silently
      // depend on the corpus staying ASCII
      Some("""SELECT doc_id AS media_id, 'text/utf-8' AS modality,
             |CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
             |list_reduce(list_prepend(CAST(0 AS BIGINT),
             |  [CAST(strpos('123456789ABCDEF', substr(hex(encode(text)), 2*i+1, 1)) * 16
             |      + strpos('123456789ABCDEF', substr(hex(encode(text)), 2*i+2, 1)) AS BIGINT)
             |   FOR i IN range(octet_length(encode(text)))]),
             |  (a, x) -> (a * 31 + x) % 1000000007) AS checksum
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ---- frame sampling on the gate: each payload slices into
    //      fixed-width 64-byte frames, every 2nd kept — the
    //      video-frame-sampling contract (byte-slicing stub standing
    //      in for codec-aware extraction; the Spark-side plumbing —
    //      typed flatMap, bounded output |payload|/everyK — is real).
    //      The oracle replays the identical slice arithmetic AND the
    //      per-frame byte checksum via hex-pair extraction, so frame
    //      boundaries and frame CONTENT are both pinned. ----
    Q("multimodal_frame_sample",
      (s, dir) => {
        import s.implicits._
        val media = graft.multimodal.Multimodal.asMedia(
          Tables.t(s, dir, "documents")
            .withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", "text/utf-8")
        graft.multimodal.Multimodal.frameSample(media, frameSize = 64, everyK = 2)
          .map { f =>
            var h = 0L; var i = 0
            while (i < f.frame.length) {
              h = (h * 31L + (f.frame(i) & 0xff)) % 1000000007L; i += 1
            }
            (f.media_id, f.frame_idx, f.frame.length, h)
          }
          .toDF("media_id", "frame_idx", "n_bytes", "checksum")
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH d AS (SELECT doc_id, encode(text) AS b,
             |            octet_length(encode(text)) AS L FROM documents),
             |f AS (SELECT doc_id, i, LEAST(64, L - i*64) AS n,
             |        substr(hex(b), i*128 + 1, CAST(LEAST(64, L - i*64) * 2 AS BIGINT)) AS hx
             |      FROM d, UNNEST(range(CAST(ceil(L / 64.0) AS BIGINT))) AS t(i)
             |      WHERE i % 2 = 0)
             |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
             |  CAST(n AS INTEGER) AS n_bytes,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    [CAST(strpos('123456789ABCDEF', substr(hx, 2*j+1, 1)) * 16
             |        + strpos('123456789ABCDEF', substr(hx, 2*j+2, 1)) AS BIGINT)
             |     FOR j IN range(CAST(n AS BIGINT))]),
             |    (a, x) -> (a * 31 + x) % 1000000007) AS checksum
             |FROM f ORDER BY media_id, frame_idx""".stripMargin)),

    // ---- per-frame ENERGY/PEAK extraction — the audio-feature
    //      shape (RMS energy + clipping peak per fixed-width window)
    //      over the byte-slicing decode stub: every 64-byte frame
    //      reports Σ byte² and max byte as exact integers. The
    //      Spark-side plumbing (typed flatMap framing, per-frame
    //      integer reduce, bounded |payload|/64 fan-out) is the real
    //      production shape a codec-aware decoder would slot into;
    //      the oracle replays the identical slice arithmetic AND the
    //      per-byte math via hex-pair extraction, so window
    //      boundaries and CONTENT are both pinned byte-exactly. ----
    Q("multimodal_audio_energy",
      (s, dir) => {
        import s.implicits._
        val media = graft.multimodal.Multimodal.asMedia(
          Tables.t(s, dir, "documents")
            .withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", "text/utf-8")
        graft.multimodal.Multimodal.frameSample(media, frameSize = 64, everyK = 1)
          .map { f =>
            var e = 0L; var p = 0L; var i = 0
            while (i < f.frame.length) {
              val u = (f.frame(i) & 0xff).toLong
              e += u * u; if (u > p) p = u; i += 1
            }
            (f.media_id, f.frame_idx, f.frame.length, e, p)
          }
          .toDF("media_id", "frame_idx", "n_bytes", "energy", "peak")
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH d AS (SELECT doc_id, encode(text) AS b,
             |            octet_length(encode(text)) AS L FROM documents),
             |f AS (SELECT doc_id, i, LEAST(64, L - i*64) AS n,
             |        substr(hex(b), i*128 + 1, CAST(LEAST(64, L - i*64) * 2 AS BIGINT)) AS hx
             |      FROM d, UNNEST(range(CAST(ceil(L / 64.0) AS BIGINT))) AS t(i)),
             |bytes AS (SELECT doc_id, i, n,
             |    [CAST(strpos('123456789ABCDEF', substr(hx, 2*j+1, 1)) * 16
             |        + strpos('123456789ABCDEF', substr(hx, 2*j+2, 1)) AS BIGINT)
             |     FOR j IN range(CAST(n AS BIGINT))] AS bs
             |  FROM f)
             |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
             |  CAST(n AS INTEGER) AS n_bytes,
             |  list_reduce(list_prepend(CAST(0 AS BIGINT), bs), (a, x) -> a + x * x) AS energy,
             |  CAST(list_max(bs) AS BIGINT) AS peak
             |FROM bytes ORDER BY media_id, frame_idx""".stripMargin)),

    // ---- VIDEO SCENE-CUT DETECTION over the byte-slicing decode
    //      stub: per-frame energy (Σ byte² — the feature the audio
    //      gate pins byte-exactly) compared frame-to-frame, a cut
    //      flagged where the energy moves by more than half the
    //      previous frame's level — 2·|e − prev| > prev, integer
    //      cross-multiplied, no division. The temporal-segmentation
    //      shape a codec-aware decoder slots into: framing fan-out is
    //      bounded |payload|/64, the lag is a media-keyed window, and
    //      only (media, frame, energies) ever shuffle. ----
    Q("multimodal_scene_cuts",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val media = graft.multimodal.Multimodal.asMedia(
          Tables.t(s, dir, "documents")
            .withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", "text/utf-8")
        val energies = graft.multimodal.Multimodal.frameSample(media, frameSize = 64, everyK = 1)
          .map { f =>
            var e = 0L; var i = 0
            while (i < f.frame.length) {
              val u = (f.frame(i) & 0xff).toLong; e += u * u; i += 1
            }
            (f.media_id, f.frame_idx, e)
          }
          .toDF("media_id", "frame_idx", "energy")
        val w = Window.partitionBy("media_id").orderBy("frame_idx")
        energies.withColumn("prev_e", lag("energy", 1).over(w))
          .filter(col("prev_e").isNotNull &&
            abs(col("energy") - col("prev_e")) * 2 > col("prev_e"))
          .select("media_id", "frame_idx", "prev_e", "energy")
          .orderBy("media_id", "frame_idx")
      },
      Some("""WITH d AS (SELECT doc_id, encode(text) AS b,
             |            octet_length(encode(text)) AS L FROM documents),
             |f AS (SELECT doc_id, i, LEAST(64, L - i*64) AS n,
             |        substr(hex(b), i*128 + 1, CAST(LEAST(64, L - i*64) * 2 AS BIGINT)) AS hx
             |      FROM d, UNNEST(range(CAST(ceil(L / 64.0) AS BIGINT))) AS t(i)),
             |en AS (SELECT doc_id, i,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      [CAST(strpos('123456789ABCDEF', substr(hx, 2*j+1, 1)) * 16
             |          + strpos('123456789ABCDEF', substr(hx, 2*j+2, 1)) AS BIGINT)
             |       FOR j IN range(CAST(n AS BIGINT))]),
             |      (a, x) -> a + x * x) AS energy
             |  FROM f),
             |lg AS (SELECT doc_id, i, energy,
             |    LAG(energy) OVER (PARTITION BY doc_id ORDER BY i) AS prev_e FROM en)
             |SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx, prev_e, energy
             |FROM lg WHERE prev_e IS NOT NULL AND abs(energy - prev_e) * 2 > prev_e
             |ORDER BY media_id, frame_idx""".stripMargin)),

    // ---- IMAGE PERCEPTUAL FINGERPRINT (average-hash) over the
    //      byte-slicing decode stub: the first 64 payload bytes stand
    //      in for the 8x8 downsampled grayscale grid (a codec-aware
    //      decoder slots into the same frame), and the aHash bit j is
    //      byte_j > floor(mean) — packed into two 32-bit halves so
    //      the BIGINT never touches the sign bit. Mean brightness and
    //      contrast (max − min) ride along, all exact integers. This
    //      is the map-side fingerprint a 100 TB image corpus computes
    //      where the bytes live (only the 16-byte-ish fingerprints
    //      ever shuffle); the oracle replays the identical byte math
    //      via hex-pair extraction. ----
    Q("multimodal_image_phash",
      (s, dir) => phashTable(s, dir).orderBy("media_id"),
      Some("""WITH d AS (SELECT doc_id, encode(text) AS b,
             |            LEAST(octet_length(encode(text)), 64) AS n FROM documents),
             |bytes AS (SELECT doc_id, n,
             |    [CAST(strpos('123456789ABCDEF', substr(hex(b), 2*j+1, 1)) * 16
             |        + strpos('123456789ABCDEF', substr(hex(b), 2*j+2, 1)) AS BIGINT)
             |     FOR j IN range(CAST(n AS BIGINT))] AS bs
             |  FROM d),
             |st AS (SELECT doc_id, n, bs,
             |    CAST(list_sum(bs) // n AS BIGINT) AS mean_b,
             |    CAST(list_max(bs) - list_min(bs) AS BIGINT) AS contrast
             |  FROM bytes)
             |SELECT doc_id AS media_id, CAST(n AS INTEGER) AS n_bytes, mean_b, contrast,
             |  CAST(COALESCE(list_sum([CASE WHEN bs[j+1] > mean_b
             |        THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END
             |      FOR j IN range(32, CAST(GREATEST(n, 32) AS BIGINT))]), 0) AS BIGINT) AS phash_hi,
             |  CAST(COALESCE(list_sum([CASE WHEN bs[j+1] > mean_b
             |        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
             |      FOR j IN range(CAST(LEAST(n, 32) AS BIGINT))]), 0) AS BIGINT) AS phash_lo
             |FROM st ORDER BY media_id""".stripMargin)),

    // ---- PERCEPTUAL NEAR-DUP JOIN on the aHash: media pairs within
    //      Hamming 3 of each other's 64-bit fingerprint — the visual
    //      re-crawl/re-encode dedup exact byte digests miss. BANDED,
    //      never all-pairs: the 64 bits split into four 16-bit
    //      chunks, and Hamming <= 3 pigeonholes at least one chunk
    //      equal, so candidates come from a (band, chunk) equi-join
    //      (the SimHash banding discipline on the phash bit source);
    //      the Hamming verify runs only on candidates and the oracle
    //      is the plain quadratic join, so band completeness is ON
    //      the gate. ----
    Q("multimodal_phash_near_dups",
      (s, dir) => {
        val ph = phashTable(s, dir)
          .select("media_id", "phash_hi", "phash_lo")
          .checkpointed() // both sides of the band join read it
        val banded = ph.select(col("media_id"), col("phash_hi"), col("phash_lo"),
          posexplode(array(
            col("phash_lo").bitwiseAND(lit(0xFFFFL)),
            shiftright(col("phash_lo"), 16).bitwiseAND(lit(0xFFFFL)),
            col("phash_hi").bitwiseAND(lit(0xFFFFL)),
            shiftright(col("phash_hi"), 16).bitwiseAND(lit(0xFFFFL))))
            .as(Seq("band", "chunk")))
        val a = banded.select(col("media_id").as("id_a"), col("phash_hi").as("ha"),
          col("phash_lo").as("la"), col("band"), col("chunk"))
        val b = banded.select(col("media_id").as("id_b"), col("phash_hi").as("hb"),
          col("phash_lo").as("lb"), col("band"), col("chunk"))
        a.join(b, Seq("band", "chunk"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            (bit_count(col("ha").bitwiseXOR(col("hb"))) +
              bit_count(col("la").bitwiseXOR(col("lb")))).cast("long").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH d AS (SELECT doc_id, encode(text) AS b,
             |            LEAST(octet_length(encode(text)), 64) AS n FROM documents),
             |bytes AS (SELECT doc_id, n,
             |    [CAST(strpos('123456789ABCDEF', substr(hex(b), 2*j+1, 1)) * 16
             |        + strpos('123456789ABCDEF', substr(hex(b), 2*j+2, 1)) AS BIGINT)
             |     FOR j IN range(CAST(n AS BIGINT))] AS bs
             |  FROM d),
             |st AS (SELECT doc_id, n, bs,
             |    CAST(list_sum(bs) // n AS BIGINT) AS mean_b FROM bytes),
             |fp AS (SELECT doc_id AS media_id,
             |  CAST(COALESCE(list_sum([CASE WHEN bs[j+1] > mean_b
             |        THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END
             |      FOR j IN range(32, CAST(GREATEST(n, 32) AS BIGINT))]), 0) AS BIGINT) AS hi,
             |  CAST(COALESCE(list_sum([CASE WHEN bs[j+1] > mean_b
             |        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
             |      FOR j IN range(CAST(LEAST(n, 32) AS BIGINT))]), 0) AS BIGINT) AS lo
             |  FROM st)
             |SELECT a.media_id AS id_a, b.media_id AS id_b,
             |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS BIGINT) AS hamming
             |FROM fp a JOIN fp b ON a.media_id < b.media_id
             |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- PHASH BANDING-SKEW PRE-FLIGHT: the diag_band_buckets
    //      report over the MEDIA fingerprint family — per band of the
    //      (band, chunk) equi-join multimodal_phash_near_dups runs,
    //      the bucket count, largest bucket, and exact candidate-pair
    //      total, through the ONE shared Dedup.bandBucketHistogram
    //      entry point (same report for simhash text fingerprints and
    //      minhash sketches) — a re-encode-heavy media corpus shows
    //      up here as one giant chunk bucket BEFORE the join stage
    //      stalls. ----
    Q("diag_phash_buckets",
      (s, dir) => {
        val banded = phashTable(s, dir)
          .select(col("media_id"),
            posexplode(array(
              col("phash_lo").bitwiseAND(lit(0xFFFFL)),
              shiftright(col("phash_lo"), 16).bitwiseAND(lit(0xFFFFL)),
              col("phash_hi").bitwiseAND(lit(0xFFFFL)),
              shiftright(col("phash_hi"), 16).bitwiseAND(lit(0xFFFFL))))
              .as(Seq("band", "chunk")))
        graft.operators.Dedup.bandBucketHistogram(banded, "chunk")
      },
      Some("""WITH d AS (SELECT doc_id, encode(text) AS b,
             |            LEAST(octet_length(encode(text)), 64) AS n FROM documents),
             |bytes AS (SELECT doc_id, n,
             |    [CAST(strpos('123456789ABCDEF', substr(hex(b), 2*j+1, 1)) * 16
             |        + strpos('123456789ABCDEF', substr(hex(b), 2*j+2, 1)) AS BIGINT)
             |     FOR j IN range(CAST(n AS BIGINT))] AS bs
             |  FROM d),
             |st AS (SELECT doc_id, n, bs,
             |    CAST(list_sum(bs) // n AS BIGINT) AS mean_b FROM bytes),
             |fp AS (SELECT doc_id AS media_id,
             |  CAST(COALESCE(list_sum([CASE WHEN bs[j+1] > mean_b
             |        THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END
             |      FOR j IN range(32, CAST(GREATEST(n, 32) AS BIGINT))]), 0) AS BIGINT) AS hi,
             |  CAST(COALESCE(list_sum([CASE WHEN bs[j+1] > mean_b
             |        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
             |      FOR j IN range(CAST(LEAST(n, 32) AS BIGINT))]), 0) AS BIGINT) AS lo
             |  FROM st),
             |ch AS (SELECT media_id, b.band,
             |    CASE b.band
             |      WHEN 0 THEN lo & 65535
             |      WHEN 1 THEN (lo >> 16) & 65535
             |      WHEN 2 THEN hi & 65535
             |      ELSE (hi >> 16) & 65535 END AS chunk
             |  FROM fp, (SELECT unnest(range(0, 4)) AS band) b),
             |bk AS (SELECT band, chunk, CAST(COUNT(*) AS BIGINT) AS c
             |       FROM ch GROUP BY 1, 2)
             |SELECT CAST(band AS BIGINT) AS band,
             |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
             |  CAST(MAX(c) AS BIGINT) AS max_bucket,
             |  CAST(SUM(CAST(c AS HUGEINT) * (c - 1) // 2) AS BIGINT) AS candidate_pairs
             |FROM bk GROUP BY band ORDER BY band""".stripMargin)),

    // ---- VISUAL-DEDUP CLUSTERS: transitive closure over the banded
    //      phash pairs (a~b, b~c => one {a,b,c} media cluster keyed
    //      by its min media_id) — the stage that turns the near-dup
    //      pair list into an actual visual dedup decision, exactly
    //      the text side's dedup_clusters composed onto the
    //      perceptual fingerprint. Pairing stays the pigeonhole
    //      (band, chunk) equi-join; the closure is the
    //      pointer-doubling labeller (O(log diameter) rounds);
    //      oracle = quadratic Hamming pairs + WITH RECURSIVE
    //      min-label closure. ----
    Q("multimodal_phash_clusters",
      (s, dir) => {
        val ph = phashTable(s, dir)
          .select("media_id", "phash_hi", "phash_lo")
          .checkpointed() // both sides of the band join read it
        val banded = ph.select(col("media_id"), col("phash_hi"), col("phash_lo"),
          posexplode(array(
            col("phash_lo").bitwiseAND(lit(0xFFFFL)),
            shiftright(col("phash_lo"), 16).bitwiseAND(lit(0xFFFFL)),
            col("phash_hi").bitwiseAND(lit(0xFFFFL)),
            shiftright(col("phash_hi"), 16).bitwiseAND(lit(0xFFFFL))))
            .as(Seq("band", "chunk")))
        val a = banded.select(col("media_id").as("doc_a"), col("phash_hi").as("ha"),
          col("phash_lo").as("la"), col("band"), col("chunk"))
        val b = banded.select(col("media_id").as("doc_b"), col("phash_hi").as("hb"),
          col("phash_lo").as("lb"), col("band"), col("chunk"))
        val pairs = a.join(b, Seq("band", "chunk"))
          .filter(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            (bit_count(col("ha").bitwiseXOR(col("hb"))) +
              bit_count(col("la").bitwiseXOR(col("lb")))).cast("long").as("hamming"))
          .distinct()
          .filter(col("hamming") <= 3)
        graft.operators.Dedup.clusters(pairs)
          .withColumn("n_members", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
          .select(col("node").as("media_id"), col("cluster_id"), col("n_members"))
          .orderBy("media_id")
      },
      Some("""WITH RECURSIVE d AS (SELECT doc_id, encode(text) AS b,
             |            LEAST(octet_length(encode(text)), 64) AS n FROM documents),
             |bytes AS (SELECT doc_id, n,
             |    [CAST(strpos('123456789ABCDEF', substr(hex(b), 2*j+1, 1)) * 16
             |        + strpos('123456789ABCDEF', substr(hex(b), 2*j+2, 1)) AS BIGINT)
             |     FOR j IN range(CAST(n AS BIGINT))] AS bs
             |  FROM d),
             |st AS (SELECT doc_id, n, bs,
             |    CAST(list_sum(bs) // n AS BIGINT) AS mean_b FROM bytes),
             |fp AS (SELECT doc_id AS media_id,
             |  CAST(COALESCE(list_sum([CASE WHEN bs[j+1] > mean_b
             |        THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END
             |      FOR j IN range(32, CAST(GREATEST(n, 32) AS BIGINT))]), 0) AS BIGINT) AS hi,
             |  CAST(COALESCE(list_sum([CASE WHEN bs[j+1] > mean_b
             |        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END
             |      FOR j IN range(CAST(LEAST(n, 32) AS BIGINT))]), 0) AS BIGINT) AS lo
             |  FROM st),
             |pairs AS (SELECT a.media_id AS doc_a, b.media_id AS doc_b
             |          FROM fp a JOIN fp b ON a.media_id < b.media_id
             |          WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3),
             |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
             |          UNION SELECT doc_b, doc_a FROM pairs),
             |reach(node, lbl) AS (SELECT src, src FROM edges
             |                     UNION
             |                     SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
             |cl AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
             |SELECT node AS media_id, cluster_id,
             |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
             |FROM cl ORDER BY media_id""".stripMargin)),

    // ---- RESIZE stub through the typed media pipeline: every 2nd
    //      byte of the payload head stands in for the 1/2-downscaled
    //      grid (a codec-aware downscaler slots into the same
    //      map-side frame — the contract the decode-stub Scaladoc
    //      states). The gate compares the RESIZED BYTES themselves
    //      (hex), not a summary, so the byte-level resample semantics
    //      are pinned cross-engine. Pure map, no shuffle. ----
    Q("multimodal_resize",
      (s, dir) => {
        val media = graft.multimodal.Multimodal.asMedia(
          Tables.t(s, dir, "documents")
            .withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", "text/utf-8")
        graft.multimodal.Multimodal.resize(media, stride = 2, maxBytes = 32)
          .toDF()
          .select(col("media_id"), col("n_orig"), col("n_resized"),
            lower(hex(col("resized"))).as("resized_hex"))
          .orderBy("media_id")
      },
      Some("""WITH d AS (SELECT doc_id, encode(text) AS b FROM documents),
             |m AS (SELECT doc_id, octet_length(b) AS n, lower(hex(b)) AS hx FROM d),
             |r AS (SELECT doc_id, n,
             |    [substr(hx, 2 * j + 1, 2)
             |     FOR j IN range(0, CAST(LEAST((n + 1) // 2, 32) AS BIGINT) * 2, 2)] AS pieces
             |  FROM m)
             |SELECT doc_id AS media_id, CAST(n AS INTEGER) AS n_orig,
             |  CAST(len(pieces) AS INTEGER) AS n_resized,
             |  list_aggregate(pieces, 'string_agg', '') AS resized_hex
             |FROM r ORDER BY media_id""".stripMargin)),

    // ---- EXACT MEDIA DEDUP by content digest — byte-identical
    //      payloads (the re-crawled image / re-uploaded clip case)
    //      collapse on md5 of the BINARY payload: one map-side
    //      digest, one digest-keyed groupBy; the payload bytes never
    //      shuffle, only the 16-byte digest does — the property that
    //      makes this the first pass over any 100 TB media corpus.
    //      The corpus has no byte-identical docs, so every 5th doc
    //      is re-keyed and unioned back in (the doubled-corpus
    //      construction the simhash gate uses); the gate reports
    //      each duplicate group's digest, multiplicity and min-id
    //      keeper. Spark hashes the UTF-8 payload bytes, DuckDB the
    //      VARCHAR's UTF-8 — the same bytes by construction. ----
    Q("multimodal_dedup_exact",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
        val doubled = docs.unionByName(
          docs.filter(col("doc_id") % 5 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("payload")))
        doubled
          .select(col("doc_id"), md5(col("payload")).as("digest"))
          .groupBy("digest")
          .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper_id"))
          .filter(col("n_copies") >= 2)
          .orderBy("keeper_id")
      },
      Some("""WITH doubled AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)
             |SELECT md5(text) AS digest, CAST(COUNT(*) AS BIGINT) AS n_copies,
             |  CAST(MIN(doc_id) AS BIGINT) AS keeper_id
             |FROM doubled GROUP BY 1 HAVING COUNT(*) >= 2
             |ORDER BY keeper_id""".stripMargin)),

    // ---- ANN via random-hyperplane LSH: signature filter + exact
    //      re-rank. Approximate BY DESIGN (recall < 1 on these
    //      near-random synthetic vectors, where no sublinear method is
    //      exact) — so no SQL oracle; SimilaritySpec asserts recall
    //      against the oracle-backed brute-force query instead. ----
    // ---- batch retrieval eval: top-3 neighbors for every 50th
    //      vector as a probe batch — one broadcast of the batch, one
    //      map-side scoring pass over the corpus, one per-probe rank.
    //      Ties broken by vec_id; exact, so fully oracle-checked. ----
    Q("sim_batch_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        graft.operators.Similarity
          .batchTopK(emb, probes, "e", k = 3)
          .select("probe_id", "rk", "vec_id", "label", "cos_sim")
          .orderBy("probe_id", "rk")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id % 50 = 0),
             |scored AS (SELECT probe_id, vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |  FROM e, p WHERE vec_id <> probe_id),
             |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rk
             |      FROM scored)
             |SELECT probe_id, rk, vec_id, label, cos_sim FROM r
             |WHERE rk <= 3 ORDER BY probe_id, rk""".stripMargin)),

    // ---- MATRYOSHKA TRUNCATION-RECALL CURVE: the QA readout that
    //      decides how many leading dims the cheap first stage can
    //      serve with — recall@10 of truncated-cosine top-10 (16/32/
    //      48 dims) against the full-64-dim ranking, for a 20-probe
    //      batch. Each point is one batchTopK (broadcast probes,
    //      map-side scoring, per-probe rank); the join to the full
    //      ranking and the permille division are probe-batch-sized.
    //      Everything is exact (slice + in-order dot, the
    //      sim_truncated_topk discipline), so the whole curve is
    //      oracle-checked. ----
    Q("sim_truncation_recall_curve",
      (s, dir) => {
        // checkpointed: four batchTopK calls (16/32/48/64 dims) each
        // make a score pass + a shortlist fetch — one materialization
        // replaces 13 file scans of the same parquet (ReuseCheck r19)
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
          .checkpointed()
        val probes = emb.filter(col("vec_id") < 20)
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        def top(d: Int) = graft.operators.Similarity.batchTopK(
            emb.withColumn("vd", slice(col("e"), 1, d)),
            probes.withColumn("probe_e", slice(col("probe_e"), 1, d)),
            "vd", k = 10)
          .select(col("probe_id"), col("vec_id"))
        val full = top(64)
        Seq(16, 32, 48, 64).map { d =>
            top(d).join(full, Seq("probe_id", "vec_id"))
              .agg(count(lit(1)).as("hits"))
              .select(lit(d.toLong).as("dims"), col("hits"),
                expr("(1000 * hits) div 200").as("recall_pm"))
          }.reduce(_ unionByName _)
          .orderBy("dims")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |probes AS (SELECT vec_id AS pid, v AS pv FROM e WHERE vec_id < 20),
             |dims AS (SELECT unnest([16, 32, 48, 64]) AS d),
             |pairs AS (
             |  SELECT d.d, p.pid, e.vec_id,
             |    list_dot_product(e.v[1:d.d], p.pv[1:d.d]) /
             |      (sqrt(list_dot_product(e.v[1:d.d], e.v[1:d.d])) *
             |       sqrt(list_dot_product(p.pv[1:d.d], p.pv[1:d.d]))) AS cs
             |  FROM e JOIN probes p ON e.vec_id <> p.pid CROSS JOIN dims d),
             |t AS (SELECT d, pid, vec_id FROM pairs
             |      QUALIFY row_number() OVER (PARTITION BY d, pid
             |                                 ORDER BY cs DESC, vec_id) <= 10),
             |full64 AS (SELECT pid, vec_id FROM t WHERE d = 64)
             |SELECT CAST(t.d AS BIGINT) AS dims, COUNT(*) AS hits,
             |  (1000 * COUNT(*)) // 200 AS recall_pm
             |FROM t JOIN full64 USING (pid, vec_id)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- hard-negative mining (retrieval-training data prep): for
    //      each probe in the batch, the 3 most-similar vectors with a
    //      DIFFERENT label — the "close but wrong" examples a
    //      contrastive loss pairs against each anchor. Label mismatch
    //      is filtered BEFORE the per-probe rank shuffle; scoring is
    //      map-side against the broadcast probe batch. Exact, so fully
    //      oracle-checked (self is excluded by its own label). ----
    Q("sim_hard_negatives",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("probe_id"), col("label").as("probe_label"),
            col("e").as("probe_e"))
        graft.operators.Similarity.hardNegatives(emb, probes, "e", k = 3)
          .select("probe_id", "rk", "vec_id", "label", "cos_sim")
          .orderBy("probe_id", "rk")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, label AS probe_label, v AS pv
             |      FROM e WHERE vec_id % 50 = 0),
             |scored AS (SELECT probe_id, vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |  FROM e, p WHERE label <> probe_label),
             |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rk
             |      FROM scored)
             |SELECT probe_id, rk, vec_id, label, cos_sim FROM r
             |WHERE rk <= 3 ORDER BY probe_id, rk""".stripMargin)),

    // ---- TRIPLET MINING (anchor, hardest positive, hardest
    //      negative): the contrastive-pair assembly step of
    //      embedding fine-tuning — per anchor, the most-similar
    //      SAME-label vector and the most-similar OTHER-label vector
    //      by exact cosine (ties to lowest id). Anchors broadcast;
    //      one map-side scoring pass; two anchor-keyed argmax
    //      windows. sim_hard_negatives is the negative half at k=3;
    //      this emits ready-to-train triples. ----
    Q("sim_triplet_mining",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val anchors = emb.filter(col("vec_id") % 50 === 0)
        graft.operators.Similarity.tripletMining(emb, anchors, "e")
          .orderBy("anchor_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |a AS (SELECT vec_id AS anchor_id, label AS a_label, v AS av
             |      FROM e WHERE vec_id % 50 = 0),
             |sc AS (SELECT anchor_id, a_label, vec_id, label,
             |  list_dot_product(v, av) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(av, av))) AS cos_sim
             |  FROM e, a WHERE vec_id <> anchor_id),
             |p AS (SELECT anchor_id, vec_id AS pos_id, cos_sim AS pos_sim,
             |        ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, vec_id) AS rn
             |      FROM sc WHERE label = a_label),
             |n AS (SELECT anchor_id, vec_id AS neg_id, cos_sim AS neg_sim,
             |        ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cos_sim DESC, vec_id) AS rn
             |      FROM sc WHERE label <> a_label)
             |SELECT anchor_id, pos_id, pos_sim, neg_id, neg_sim
             |FROM p JOIN n USING (anchor_id)
             |WHERE p.rn = 1 AND n.rn = 1 ORDER BY anchor_id""".stripMargin)),

    // ---- k-NN CLASSIFICATION (majority vote over the exact top-5
    //      cosine neighbors, excluding self): the embedding-space
    //      label-quality probe — compare predicted vs true label per
    //      probe. Vote counting and the (count, label) argmin pick
    //      are the same struct-min discipline as agg_grouped_mode;
    //      neighbor ranks tie-break by vec_id, so the vote set is
    //      deterministic cross-engine. ----
    Q("sim_knn_classify",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
            col("e").as("probe_e"))
        val nn = graft.operators.Similarity
          .batchTopK(emb, probes.select("probe_id", "probe_e"), "e", k = 5)
        nn.join(probes.select("probe_id", "true_label"), "probe_id")
          .groupBy("probe_id", "true_label", "label").agg(count(lit(1)).as("votes"))
          .groupBy("probe_id", "true_label")
          .agg(min(struct((-col("votes")).as("neg"), col("label").as("l"))).as("m"))
          .select(col("probe_id"), col("true_label"),
            col("m.l").as("predicted_label"), (-col("m.neg")).as("votes"))
          .orderBy("probe_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, label AS true_label, v AS pv
             |      FROM e WHERE vec_id % 50 = 0),
             |scored AS (SELECT probe_id, true_label, vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |  FROM e, p WHERE vec_id <> probe_id),
             |nn AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |         ORDER BY cos_sim DESC, vec_id) AS rk FROM scored) WHERE rk <= 5),
             |votes AS (SELECT probe_id, true_label, label, COUNT(*) AS votes
             |          FROM nn GROUP BY 1, 2, 3)
             |SELECT probe_id, true_label, label AS predicted_label, votes FROM (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |    ORDER BY votes DESC, label) AS rn FROM votes)
             |WHERE rn = 1 ORDER BY probe_id""".stripMargin)),

    // ---- RANGE similarity search (the "everything within distance
    //      t" query, vs top-k's fixed cardinality): all vectors with
    //      cosine >= 0.3 to the probe — the recall-complete retrieval
    //      shape dedup audits and threshold alerts need, where top-k
    //      would silently truncate. Same map-side scoring as
    //      bruteForceTopK (probe broadcast, no corpus shuffle); the
    //      predicate pushes into the scan stage so non-matches never
    //      leave their partition. ----
    Q("sim_range_search",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb.filter(col("vec_id") === 0)
          .select(col("e").as("probe_e"))
        emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(probe))
          .withColumn("cos_sim",
            graft.operators.Similarity.cosine(col("e"), col("probe_e")))
          .filter(col("cos_sim") >= 0.3)
          .select("vec_id", "label", "cos_sim")
          .orderBy("vec_id")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |FROM e, probe WHERE vec_id <> 0
             |  AND list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) >= 0.3
             |ORDER BY vec_id""".stripMargin)),

    // ---- MMR diversified retrieval (Carbonell & Goldstein '98,
    //      public): greedy re-rank of the exact top-20 shortlist —
    //      each pick maximizes λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)
    //      at λ=0.5, ties to the smaller id. The DISTRIBUTED stage is
    //      the shortlist (map-side scoring, TakeOrdered); the greedy
    //      loop runs driver-side over 20 vectors — metadata, like
    //      centroids and codebooks (MMR is inherently sequential in
    //      k; the corpus-sized work is all in the shortlist). Driver
    //      cosines are the same sequential index-order fold the
    //      codegen kernel and DuckDB's list_dot_product compute, and
    //      every MMR score is single-op IEEE arithmetic on them, so
    //      the DuckDB WITH RECURSIVE greedy replays the selection
    //      exactly. ----
    Q("sim_mmr_topk",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probeDf = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
        val short = graft.operators.Similarity
          .bruteForceTopK(emb.filter(col("vec_id") =!= 0), probeDf, "e", 20)
          .select(col("vec_id"), col("cos_sim"), col("e")).collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Double](2).toArray))
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var acc = 0.0; var i = 0
          while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
        }
        def cos(a: Array[Double], b: Array[Double]): Double =
          dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
        val vecById = short.map(t => t._1 -> t._3).toMap
        val relById = short.map(t => t._1 -> t._2).toMap
        val ids = short.map(_._1)
        var selected = Vector.empty[Long]
        while (selected.size < 5) {
          val next =
            if (selected.isEmpty) ids.minBy(id => (-relById(id), id))
            else ids.filterNot(selected.contains).minBy { id =>
              val m = selected.map(sid => cos(vecById(id), vecById(sid))).max
              (-(0.5 * relById(id) - 0.5 * m), id)
            }
          selected :+= next
        }
        selected.zipWithIndex
          .map { case (id, i) => (i + 1, id) }.toDF("rk", "vec_id")
          .orderBy("rk")
      },
      Some("""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
             |scored AS (SELECT vec_id, v,
             |    list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS rel
             |  FROM e, probe WHERE vec_id <> 0),
             |cand AS (SELECT * FROM scored ORDER BY rel DESC, vec_id LIMIT 20),
             |pair AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
             |    list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS s
             |  FROM cand a, cand b WHERE a.vec_id <> b.vec_id),
             |sel AS (
             |  SELECT 1 AS rk,
             |    (SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1) AS vec_id,
             |    [(SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1)] AS picked
             |  UNION ALL
             |  SELECT rk + 1, nxt.vec_id, list_append(picked, nxt.vec_id)
             |  FROM sel, LATERAL (
             |    SELECT c.vec_id
             |    FROM cand c
             |    WHERE NOT list_contains(sel.picked, c.vec_id)
             |    ORDER BY 0.5 * c.rel - 0.5 * (SELECT MAX(p.s) FROM pair p
             |        WHERE p.ia = c.vec_id AND list_contains(sel.picked, p.ib)) DESC,
             |      c.vec_id
             |    LIMIT 1) nxt
             |  WHERE rk < 5)
             |SELECT CAST(rk AS INTEGER) AS rk, vec_id FROM sel ORDER BY rk""".stripMargin)),

    // ---- LSH ANN production form. Exact twin: sim_lsh_exhaustive
    //      below runs the IDENTICAL pipeline and parameters (same
    //      deterministic nBits=16 hyperplanes, same k=10) with the
    //      single approximation knob opened — probeHamming 6 -> 16
    //      admits every signature — and is green against the hard
    //      DuckDB top-k oracle; DedupSimilaritySpec ("ANN top-k
    //      recall vs brute force") bounds this form's recall. ----
    Q("sim_ann_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
        graft.operators.Similarity
          .annTopK(emb.filter(col("vec_id") =!= 0), probe, "e", dim = 64, k = 10)
          .select("vec_id", "label", "cos_sim")
      },
      None),

    // ---- LSH exactness-by-construction twin: probeHamming = nBits
    //      admits every signature, so the LSH plan (hyperplane
    //      signatures, XOR/bit_count candidate filter, exact cosine
    //      re-rank) runs exhaustively and must equal brute force —
    //      pinned by the exact DuckDB top-k oracle. sim_ann_topk stays
    //      the approximate production form (hamming <= 6). ----
    Q("sim_lsh_exhaustive",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
        graft.operators.Similarity
          .annTopK(emb.filter(col("vec_id") =!= 0), probe, "e", dim = 64, k = 10,
            nBits = 16, probeHamming = 16)
          .select("vec_id", "label", "cos_sim")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- IVF ANN: probe the nProbe nearest of 16 sampled-centroid
    //      cells, exact re-rank inside them. Approximate (cell
    //      boundaries cut the true neighborhood), so rows-only here;
    //      MlCrossCheckSpec/DedupSimilaritySpec assert recall against
    //      the oracle-backed brute force. ----
    Q("sim_ivf_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
        val corpus = emb.filter(col("vec_id") =!= 0)
        val (assigned, centroids) = graft.operators.Similarity.ivfIndex(corpus, "vec_id", "e")
        graft.operators.Similarity
          .ivfTopK(assigned, centroids, probe, "e", k = 10)
          .select("vec_id", "label", "cos_sim")
      },
      None),

    // ---- PQ ANN (the memory-bounded serving shape): codebooks are
    //      driver metadata, vectors compress to m=8 codes (32x), the
    //      ADC shortlist scans ONLY codes, and the exact re-rank
    //      touches just k*8 vectors. Build-once/serve-many: codebooks
    //      train ONCE per corpus and persist next to it; every later
    //      invocation loads them (training is deterministic, so the
    //      served rows are identical either way). Approximate by
    //      design -> rows only; PqSpec pins zero-error exactness,
    //      determinism, and rerank recall vs exact L2. ----
    Q("sim_pq_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        // build-once/serve-many through the shared fingerprint-keyed
        // cache ([[pqCodebooksCached]] — also Bench's timed
        // sidx_pqcb row, so the build cost is priced visibly)
        val cb = pqCodebooksCached(s, dir)
        val probe = emb.filter(col("vec_id") === 0)
          .select("e").collect()(0).getSeq[Double](0).toArray // 1 vector: metadata
        graft.operators.Similarity.pqTopK(
            graft.operators.Similarity.pqEncode(emb.filter(col("vec_id") =!= 0), "e", cb),
            probe, cb, k = 10, rerankVecCol = Some("e"))
          .select("vec_id", "label", "adc_dist", "l2_dist")
      },
      None),

    // ---- IVF exactness-by-construction twin: probing ALL nLists
    //      cells makes IVF exhaustive — every corpus vector is in
    //      exactly one cell, so the union of probed cells IS the
    //      corpus and the result equals brute force. This puts the
    //      IVF plan (cell assignment, probe-cell selection, in-cell
    //      re-rank) on the hard oracle gate; sim_ivf_topk stays the
    //      approximate production form (nProbe=4). ----
    Q("sim_ivf_exhaustive",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
        val corpus = emb.filter(col("vec_id") =!= 0)
        val (assigned, centroids) =
          graft.operators.Similarity.ivfIndex(corpus, "vec_id", "e", nLists = 16)
        graft.operators.Similarity
          .ivfTopK(assigned, centroids, probe, "e", k = 10, nProbe = 16)
          .select("vec_id", "label", "cos_sim")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- INCREMENTAL IVF MAINTENANCE on the hard gate: the index is
    //      built on 6/7 of the corpus, the remaining 1/7 arrives as a
    //      fresh batch and is APPENDED — assigned to the EXISTING
    //      centroids map-side (Similarity.assignToCentroids, one
    //      argmin projection, no shuffle) and unioned into the cell
    //      postings; no rebuild. Exactness rider: nProbe = nLists
    //      over the MERGED index is exhaustive, so the result must
    //      equal brute force over corpus + batch — the same oracle as
    //      sim_ivf_exhaustive. The production rebuild trigger is the
    //      embed_centroid_drift monitor (append while drift is quiet,
    //      rebuild when it fires); SCALE ivfapp shows append cost
    //      tracking the batch, not the corpus. ----
    Q("sim_ivf_incremental",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
        val corpus = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 7 =!= 0)
        val fresh = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 7 === 0)
        val (assigned, centroids) =
          graft.operators.Similarity.ivfIndex(corpus, "vec_id", "e", nLists = 16)
        val merged = graft.operators.Similarity.ivfAppend(assigned, centroids, fresh, "e")
        graft.operators.Similarity
          .ivfTopK(merged, centroids, probe, "e", k = 10, nProbe = 16)
          .select("vec_id", "label", "cos_sim")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- IVF-PQ (the composed production ANN: cells bound WHICH rows
    //      a query touches, residual PQ codes bound WHAT each row
    //      costs). Approximate by design -> rows only; the _exact twin
    //      below puts the identical plan on the hard gate. ----
    Q("sim_ivfpq_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val corpus = emb.filter(col("vec_id") =!= 0)
        val (enc, cents, cb) = graft.operators.Similarity.ivfPqIndex(
          corpus, "vec_id", "e", dim = 64, nLists = 16, m = 8, k = 16)
        val probe = emb.filter(col("vec_id") === 0)
          .select("e").collect()(0).getSeq[Double](0).toArray
        graft.operators.Similarity.ivfPqTopK(enc, cents, cb, probe,
            k = 10, nProbe = 4, rerankVecCol = Some("e"))
          .select("vec_id", "label", "adc_dist", "l2_dist")
      },
      None),

    // ---- IVF-PQ exactness-by-construction twin ON the hard gate:
    //      nProbe = nLists makes the probed-cell union the whole
    //      corpus, and a shortlist wider than the corpus makes the
    //      exact re-rank score EVERY row — quantization error then
    //      only orders a shortlist it no longer controls, so the
    //      result is exact L2 top-k whatever the codebooks learned.
    //      The full composed plan (assignment, residual encode,
    //      per-cell distance tables, union, re-rank) executes and
    //      must reproduce DuckDB's exact distances. ----
    Q("sim_ivfpq_exact",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val corpus = emb.filter(col("vec_id") =!= 0)
        val (enc, cents, cb) = graft.operators.Similarity.ivfPqIndex(
          corpus, "vec_id", "e", dim = 64, nLists = 16, m = 8, k = 16)
        val probe = emb.filter(col("vec_id") === 0)
          .select("e").collect()(0).getSeq[Double](0).toArray
        graft.operators.Similarity.ivfPqTopK(enc, cents, cb, probe,
            k = 10, nProbe = 16, rerankVecCol = Some("e"),
            shortlistFactor = 1000000)
          .select("vec_id", "label", "l2_dist")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, v) - 2 * list_dot_product(v, pv)
             |    + list_dot_product(pv, pv) AS l2_dist
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY l2_dist ASC, vec_id LIMIT 10""".stripMargin)),

    // ---- INCREMENTAL IVF-PQ MAINTENANCE on the hard gate: index
    //      built on 6/7 of the corpus, the remaining 1/7 appended —
    //      assigned to the EXISTING centroids map-side and
    //      residual-encoded against the EXISTING codebooks
    //      (Similarity.ivfPqAppend; batch-sized work only, no
    //      rebuild). Exactness rider: nProbe = nLists + exact re-rank
    //      over the merged index must equal brute-force L2 over
    //      corpus + batch — same oracle as sim_ivfpq_exact. ----
    Q("sim_ivfpq_incremental",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val corpus = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 7 =!= 0)
        val fresh = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 7 === 0)
        val (enc, cents, cb) = graft.operators.Similarity.ivfPqIndex(
          corpus, "vec_id", "e", dim = 64, nLists = 16, m = 8, k = 16)
        val merged = graft.operators.Similarity.ivfPqAppend(enc, cents, cb, fresh, "e")
        val probe = emb.filter(col("vec_id") === 0)
          .select("e").collect()(0).getSeq[Double](0).toArray
        graft.operators.Similarity.ivfPqTopK(merged, cents, cb, probe,
            k = 10, nProbe = 16, rerankVecCol = Some("e"),
            shortlistFactor = 1000000)
          .select("vec_id", "label", "l2_dist")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, v) - 2 * list_dot_product(v, pv)
             |    + list_dot_product(pv, pv) AS l2_dist
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY l2_dist ASC, vec_id LIMIT 10""".stripMargin)),

    // ---- FILTERED VECTOR SEARCH on the hard gate: the metadata-
    //      predicate ANN query every retrieval product serves ("top-k
    //      nearest WHERE label = ..."), expressed through the index's
    //      COMPOSABILITY — the cell-assigned corpus is a DataFrame,
    //      so the label predicate PRE-FILTERS the postings before the
    //      probed-cell join (pre-filtering keeps recall: every
    //      qualifying row still ranks, where post-filtering the top-k
    //      would starve it; at 100 TB the predicate additionally
    //      prunes the cell-partitioned scan). Exactness rider:
    //      nProbe = nLists over the filtered postings equals exact
    //      filtered cosine top-k per probe. ----
    Q("sim_ivf_filtered_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        val (assigned, centroids) =
          graft.operators.Similarity.ivfIndex(emb, "vec_id", "e", nLists = 16)
        graft.operators.Similarity
          .ivfBatchTopK(assigned.filter(col("label") === 3),
            centroids, probes, "e", k = 10, nProbe = 16)
          .select("probe_id", "vec_id", "cos_sim")
          .orderBy(col("probe_id"), desc("cos_sim"), col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id IN (0, 7, 42)),
             |d AS (SELECT p.probe_id, e.vec_id,
             |        list_dot_product(e.v, p.pv)
             |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos_sim
             |      FROM e, p WHERE e.label = 3),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY cos_sim DESC, vec_id) AS rk FROM d)
             |SELECT probe_id, vec_id, cos_sim FROM r WHERE rk <= 10
             |ORDER BY probe_id, cos_sim DESC, vec_id""".stripMargin)),

    // ---- BATCH LSH SERVING on the hard gate (annBatchTopK —
    //      completes the probe-batch tier across all four ANN
    //      families), THROUGH THE PERSISTED SIGNATURE TABLE (r18):
    //      candidates come off the fingerprint-cached 16-B/row
    //      (vec_id, sig) parquet (sigTableCached), the float vectors
    //      join in candidate-sized for the exact re-rank. Exactness
    //      rider: probeHamming = nBits accepts everything, so each
    //      probe's answer is exact cosine top-k — the
    //      sim_ivf_batch_topk oracle verbatim. ----
    Q("sim_ann_batch_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        graft.operators.Similarity
          .annBatchTopK(emb, probes, "e", dim = 64, k = 10,
            nBits = 16, probeHamming = 16,
            sigs = Some(sigTableCached(s, dir)))
          .select("probe_id", "vec_id", "cos_sim")
          .orderBy(col("probe_id"), desc("cos_sim"), col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id IN (0, 7, 42)),
             |d AS (SELECT p.probe_id, e.vec_id,
             |        list_dot_product(e.v, p.pv)
             |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos_sim
             |      FROM e, p),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY cos_sim DESC, vec_id) AS rk FROM d)
             |SELECT probe_id, vec_id, cos_sim FROM r WHERE rk <= 10
             |ORDER BY probe_id, cos_sim DESC, vec_id""".stripMargin)),

    // ---- BATCH IVF SERVING on the hard gate: the probe-batch form
    //      (per-probe cell rank in-plan, one cell equi-join, one
    //      per-probe window — Similarity.ivfBatchTopK; no driver
    //      loop, no per-probe subplans). Exactness rider:
    //      nProbe = nLists probes every cell, so each probe's answer
    //      must equal exact cosine top-k — one oracle over the
    //      3-probe batch. ----
    Q("sim_ivf_batch_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        val (assigned, centroids) =
          graft.operators.Similarity.ivfIndex(emb, "vec_id", "e", nLists = 16)
        graft.operators.Similarity
          .ivfBatchTopK(assigned, centroids, probes, "e", k = 10, nProbe = 16)
          .select("probe_id", "vec_id", "cos_sim")
          .orderBy(col("probe_id"), desc("cos_sim"), col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id IN (0, 7, 42)),
             |d AS (SELECT p.probe_id, e.vec_id,
             |        list_dot_product(e.v, p.pv)
             |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos_sim
             |      FROM e, p),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY cos_sim DESC, vec_id) AS rk FROM d)
             |SELECT probe_id, vec_id, cos_sim FROM r WHERE rk <= 10
             |ORDER BY probe_id, cos_sim DESC, vec_id""".stripMargin)),

    // ---- BATCH IVF-PQ SERVING on the hard gate: residual recentring
    //      rides the (probe, cell) frame (probe_res = probe − centroid,
    //      one zip_with over metadata rows) and the codegen'd batch-ADC
    //      kernel scores codes against it — the per-(probe, cell)
    //      distance tables as a JOIN, replacing the single-probe CASE
    //      dispatch that forced sim_ivfpq_recall's 20-subplan driver
    //      loop. Exactness rider: nProbe = nLists + a shortlist wider
    //      than the corpus makes each probe's answer exact L2 top-k
    //      whatever the codebooks learned. ----
    Q("sim_ivfpq_batch_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        val (enc, cents, cb) = graft.operators.Similarity.ivfPqIndex(
          emb, "vec_id", "e", dim = 64, nLists = 16, m = 8, k = 16)
        graft.operators.Similarity.ivfPqBatchTopK(enc, cents, cb, probes,
            k = 10, nProbe = 16, rerankVecCol = Some("e"),
            shortlistFactor = 1000000)
          .select("probe_id", "vec_id", "l2_dist")
          .orderBy(col("probe_id"), col("l2_dist"), col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id IN (0, 7, 42)),
             |d AS (SELECT p.probe_id, e.vec_id,
             |        list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, p.pv)
             |          + list_dot_product(p.pv, p.pv) AS l2_dist
             |      FROM e, p),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY l2_dist, vec_id) AS rk FROM d)
             |SELECT probe_id, vec_id, l2_dist FROM r WHERE rk <= 10
             |ORDER BY probe_id, l2_dist, vec_id""".stripMargin)),

    // ---- MATRYOSHKA STAGED RETRIEVAL, exactness rider
    //      (Similarity.mrlBatchTopK — the truncation family beside
    //      LSH/IVF/PQ, completing the modern ANN stack: MRL
    //      embeddings front-load information into the leading dims,
    //      so stage 1 shortlists on the first-dPrefix cosine — at
    //      100 TB a persisted projection at dPrefix/dim of the
    //      traffic — and stage 2 re-ranks the shortlist exactly).
    //      Rider: a shortlist covering the corpus makes stage 2
    //      exact cosine top-k whatever the prefix saw — the
    //      sim_ivf_batch_topk oracle verbatim; the production
    //      (dPrefix=16, factor=4) form is sim_mrl_topk, floored by
    //      sim_mrl_recall. Runs THROUGH the persisted prefix table
    //      (prefixTable — the signatureTable discipline). ----
    Q("sim_mrl_batch_exact",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        graft.operators.Similarity
          .mrlBatchTopK(emb, probes, "e", dPrefix = 32, k = 10,
            shortlistFactor = 1000000,
            prefixes = Some(prefixTableCached(s, dir, 32)))
          .select("probe_id", "vec_id", "cos_sim")
          .orderBy(col("probe_id"), desc("cos_sim"), col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id IN (0, 7, 42)),
             |d AS (SELECT p.probe_id, e.vec_id,
             |        list_dot_product(e.v, p.pv)
             |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos_sim
             |      FROM e, p),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY cos_sim DESC, vec_id) AS rk FROM d)
             |SELECT probe_id, vec_id, cos_sim FROM r WHERE rk <= 10
             |ORDER BY probe_id, cos_sim DESC, vec_id""".stripMargin)),

    // ---- The PRODUCTION Matryoshka form (dPrefix 32 of 64 — half
    //      the stage-1 memory traffic — with an 8x shortlist):
    //      approximate by construction -> rows-only; exactness twin
    //      sim_mrl_batch_exact above, recall floor sim_mrl_recall
    //      (RecallQueries; measured 860/840/745 permille at
    //      sf0.001/0.01/0.1 on these UNTRAINED synthetic embeddings —
    //      information is spread uniformly across dims, the
    //      worst case for truncation; MRL-trained vectors front-load
    //      it and do better at smaller prefixes). ----
    Q("sim_mrl_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        graft.operators.Similarity
          .mrlBatchTopK(emb, probes, "e", dPrefix = 32, k = 10,
            shortlistFactor = 8,
            prefixes = Some(prefixTableCached(s, dir, 32)))
          .select("probe_id", "vec_id", "cos_sim")
          .orderBy(col("probe_id"), desc("cos_sim"), col("vec_id"))
      },
      None),

    // ---- INT8 SCALAR-QUANTIZED RETRIEVAL, exactness rider
    //      (Similarity.sq8BatchTopK — the 8-bit rung of the
    //      precision ladder: 1-bit sign words (sim_hamming_topk),
    //      int8 HERE, sub-byte PQ codes, float rows; every real
    //      serving stack carries this tier because int8 is
    //      near-lossless on cosine rank at 1 B/dim). Stage 1 = exact
    //      BIGINT dot of the quantized vectors off the persisted
    //      sq8Table; stage 2 = exact rerank. Rider: a covering
    //      shortlist makes stage 2 exact cosine top-k — the
    //      sim_ivf_batch_topk oracle verbatim; production form
    //      sim_sq8_topk, floor sim_sq8_recall. ----
    Q("sim_sq8_batch_exact",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        graft.operators.Similarity
          .sq8BatchTopK(emb, probes, "e", k = 10, shortlistFactor = 1000000,
            quantized = Some(sq8TableCached(s, dir)))
          .select("probe_id", "vec_id", "cos_sim")
          .orderBy(col("probe_id"), desc("cos_sim"), col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id IN (0, 7, 42)),
             |d AS (SELECT p.probe_id, e.vec_id,
             |        list_dot_product(e.v, p.pv)
             |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))) AS cos_sim
             |      FROM e, p),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY cos_sim DESC, vec_id) AS rk FROM d)
             |SELECT probe_id, vec_id, cos_sim FROM r WHERE rk <= 10
             |ORDER BY probe_id, cos_sim DESC, vec_id""".stripMargin)),

    // ---- The PRODUCTION int8 form (factor 2 — int8 rank is
    //      near-lossless, the small shortlist absorbs the last-ulp
    //      swaps): rows-only; twin sim_sq8_batch_exact, floor
    //      sim_sq8_recall (measured 1000/1000/1000 permille at
    //      factor 2 across the three SFs; 980/965/935 even at
    //      factor 1). ----
    Q("sim_sq8_topk",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probes = emb.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        graft.operators.Similarity
          .sq8BatchTopK(emb, probes, "e", k = 10, shortlistFactor = 2,
            quantized = Some(sq8TableCached(s, dir)))
          .select("probe_id", "vec_id", "cos_sim")
          .orderBy(col("probe_id"), desc("cos_sim"), col("vec_id"))
      },
      None),

    // ---- STREAMING ANN INDEX MAINTENANCE on the hard gate: the
    //      fresh 1/7 of the corpus ARRIVES AS A STREAM (two
    //      id-parity micro-batches through the real engine —
    //      readStream -> foreachBatch) and each batch is assigned to
    //      the EXISTING centroids map-side and appended to the
    //      postings dir exactly-once (EventStreams.ivfAppendStream,
    //      the enrich_batch replay protocol). Exactness rider:
    //      nProbe = nLists over static index ∪ streamed postings
    //      equals brute force over the whole corpus — the
    //      sim_ivf_incremental oracle with the append arriving
    //      through the streaming engine instead of one batch. ----
    Q("sim_ivf_stream_append",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
          .select("vec_id", "label", "e")
        val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
        val corpus = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 7 =!= 0)
        val fresh = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 7 === 0)
        val work = CacheDirs.tempWorkDir("graft_stream_ivf_")
        val src = work.resolve("src")
        java.nio.file.Files.createDirectory(src)
        Seq(0, 1).foreach { h =>
          val half = work.resolve(s"h$h").toString
          fresh.filter(col("vec_id") % 2 === h).coalesce(1).write.parquet(half)
          val part = new java.io.File(half).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file under $half"))
          val staged = src.resolve(s"h$h.parquet")
          java.nio.file.Files.move(part.toPath, staged)
          java.nio.file.Files.setLastModifiedTime(staged,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - (1 - h) * 10000L))
        }
        val (assigned, centroids) =
          graft.operators.Similarity.ivfIndex(corpus, "vec_id", "e", nLists = 16)
        val stream = s.readStream.schema(fresh.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        val appended = graft.streaming.EventStreams.ivfAppendStream(
          s, stream, centroids, s"$work/postings", s"$work/ckpt", vecCol = "e")
        val merged = assigned.unionByName(
          appended.select(assigned.columns.map(col).toSeq: _*))
        graft.operators.Similarity
          .ivfTopK(merged, centroids, probe, "e", k = 10, nProbe = 16)
          .select("vec_id", "label", "cos_sim")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin)),

    // ---- STREAMING IVF-PQ MAINTENANCE on the hard gate: the fresh
    //      1/7 arrives as two id-parity micro-batches through
    //      EventStreams.ivfPqAppendStream — per batch one map-side
    //      centroid assignment + residual encode against the FIXED
    //      codebooks, exactly-once postings via the enrich_batch
    //      protocol. Exactness rider: nProbe = nLists + a shortlist
    //      wider than the corpus over static ∪ streamed codes equals
    //      brute-force L2 — the sim_ivfpq_exact oracle with the
    //      append arriving through the streaming engine. ----
    Q("sim_ivfpq_stream_append",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
          .select("vec_id", "label", "e")
        val corpus = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 7 =!= 0)
        val fresh = emb.filter(col("vec_id") =!= 0 && col("vec_id") % 7 === 0)
        val work = CacheDirs.tempWorkDir("graft_stream_ivfpq_")
        val src = work.resolve("src")
        java.nio.file.Files.createDirectory(src)
        Seq(0, 1).foreach { h =>
          val half = work.resolve(s"h$h").toString
          fresh.filter(col("vec_id") % 2 === h).coalesce(1).write.parquet(half)
          val part = new java.io.File(half).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file under $half"))
          val staged = src.resolve(s"h$h.parquet")
          java.nio.file.Files.move(part.toPath, staged)
          java.nio.file.Files.setLastModifiedTime(staged,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - (1 - h) * 10000L))
        }
        val (enc, cents, cb) = graft.operators.Similarity.ivfPqIndex(
          corpus, "vec_id", "e", dim = 64, nLists = 16, m = 8, k = 16)
        val stream = s.readStream.schema(fresh.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        val appended = graft.streaming.EventStreams.ivfPqAppendStream(
          s, stream, cents, cb, s"${work.resolve("codes")}",
          s"${work.resolve("ckpt")}", vecCol = "e")
        val merged = enc.unionByName(
          appended.select(enc.columns.map(col).toSeq: _*))
        val probe = emb.filter(col("vec_id") === 0)
          .select("e").collect()(0).getSeq[Double](0).toArray
        graft.operators.Similarity.ivfPqTopK(merged, cents, cb, probe,
            k = 10, nProbe = 16, rerankVecCol = Some("e"),
            shortlistFactor = 1000000)
          .select("vec_id", "label", "l2_dist")
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, v) - 2 * list_dot_product(v, pv)
             |    + list_dot_product(pv, pv) AS l2_dist
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY l2_dist ASC, vec_id LIMIT 10""".stripMargin)),

    // ---- PQ exactness-by-construction twin: binarizing each element
    //      (x >= 0 -> 1.0 else 0.0) leaves every 2-dim subvector one
    //      of 4 patterns <= k=16 codes, so trained codebooks represent
    //      every subvector EXACTLY and ADC == exact L2^2 — the DuckDB
    //      exact-distance oracle pins the whole train/encode/ADC
    //      pipeline. All arithmetic is small-integer-valued doubles:
    //      exact in both engines. sim_pq_topk stays the approximate
    //      production form. ----
    Q("sim_pq_exact",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", expr(
            "transform(cast(embedding as array<double>), x -> if(x >= 0d, 1d, 0d))"))
        val cb = graft.operators.Similarity.trainPqCodebooks(
          emb, "vec_id", "e", dim = 64, m = 32, k = 16)
        val probe = emb.filter(col("vec_id") === 0)
          .select("e").collect()(0).getSeq[Double](0).toArray
        graft.operators.Similarity.pqTopK(
            graft.operators.Similarity.pqEncode(emb.filter(col("vec_id") =!= 0), "e", cb),
            probe, cb, k = 10)
          .select("vec_id", "label", "adc_dist")
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |    list_transform(embedding::DOUBLE[],
             |                   x -> CASE WHEN x >= 0 THEN 1.0 ELSE 0.0 END) AS v
             |  FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0)
             |SELECT vec_id, label,
             |  list_dot_product(v, v) - 2 * list_dot_product(v, pv)
             |    + list_dot_product(pv, pv) AS adc_dist
             |FROM e, probe WHERE vec_id <> 0
             |ORDER BY adc_dist ASC, vec_id LIMIT 10""".stripMargin)),

    // ---- batch multi-probe PQ serving on the gate, same zero-error
    //      construction as sim_pq_exact: every probe scores every code
    //      row via decoded centroids (PqAdcBatchExpr), per-probe window
    //      shortlist — with exact codebooks ADC == L2^2, so the DuckDB
    //      exact-distance-per-probe oracle pins the whole batch path
    //      (cross-join scoring, window rank, tie-breaks). ----
    Q("sim_pq_batch_exact",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", expr(
            "transform(cast(embedding as array<double>), x -> if(x >= 0d, 1d, 0d))"))
        val cb = graft.operators.Similarity.trainPqCodebooks(
          emb, "vec_id", "e", dim = 64, m = 32, k = 16)
        val probes = emb.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        graft.operators.Similarity.pqBatchTopK(
            graft.operators.Similarity.pqEncode(emb, "e", cb), probes, cb, k = 5)
          .select("probe_id", "vec_id", "adc_dist")
          .orderBy("probe_id", "adc_dist", "vec_id")
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding::DOUBLE[],
             |                   x -> CASE WHEN x >= 0 THEN 1.0 ELSE 0.0 END) AS v
             |  FROM embeddings),
             |p AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id IN (0, 7, 42)),
             |d AS (SELECT p.probe_id, e.vec_id,
             |        list_dot_product(e.v, e.v) - 2 * list_dot_product(e.v, p.pv)
             |          + list_dot_product(p.pv, p.pv) AS adc_dist
             |      FROM e, p),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY adc_dist, vec_id) AS rk FROM d)
             |SELECT probe_id, vec_id, adc_dist FROM r WHERE rk <= 5
             |ORDER BY probe_id, adc_dist, vec_id""".stripMargin)),

    // ---- embedding near-duplicate pairs, exact all-pairs form.
    //      Threshold 0.4 because this synthetic corpus has no truly
    //      near-identical vectors (max pair cosine ~0.51) — at a real
    //      dedup threshold (>=0.9) the LSH-bucketed
    //      Similarity.embeddingNearDups replaces the quadratic join;
    //      at 0.4 the exact join IS the right plan (LSH cannot prune
    //      66-degree neighbors). ----
    // ---- embedding near-duplicate pairs, LSH-bucketed HEADLINE form
    //      (the 100 TB path): 16-bit hyperplane signatures, 4-bit-chunk
    //      buckets (pigeonhole covers hamming <= 3), exact cosine
    //      verify on candidates only — no quadratic join. The corpus
    //      has no real near-dups (max pair cosine ~0.51), so the query
    //      constructs them: each vector unions with a scaled copy
    //      (x1.0625 — same direction, different magnitude, cosine ~1).
    //      Scaling preserves every hyperplane sign, so the scaled pair
    //      ALWAYS shares its signature (recall is structural, not
    //      probabilistic); identical IEEE arithmetic in both engines
    //      lets the exact all-pairs DuckDB oracle pin the result. ----
    Q("embed_near_dups_lsh",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
        val perturbed = emb.select(
          (col("vec_id") + 100000).as("vec_id"),
          expr("transform(e, x -> x * 1.0625)").as("e"))
        graft.operators.Similarity
          .embeddingNearDups(emb.union(perturbed), "vec_id", "e", dim = 64, threshold = 0.9)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |aug AS (SELECT vec_id, v FROM base
             |        UNION ALL
             |        SELECT vec_id + 100000, list_transform(v, x -> x * 1.0625) FROM base)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
             |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
             |WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.9
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- embedding near-dups, EXACT grid-blocked form: the same
    //      constructed corpus and all-pairs oracle as the LSH
    //      headline, but through unit-sphere grid blocking — cells
    //      of width sqrt(2(1-t)) on the quantized normalized leading
    //      coordinates cover every qualifying pair by integer
    //      adjacency, so the result provably equals the quadratic
    //      join with NO recall caveat (the embedding-space analog of
    //      dedup_prefix_pairs). Pruning is strong in the true
    //      near-dup regime (t >= ~0.99); exactness holds at any t —
    //      see the operator's honest scale note. ----
    Q("embed_near_dups_exact_blocked",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
        val perturbed = emb.select(
          (col("vec_id") + 100000).as("vec_id"),
          expr("transform(e, x -> x * 1.0625)").as("e"))
        graft.operators.Similarity
          .exactBlockedNearDups(emb.union(perturbed), "vec_id", "e", threshold = 0.99, blockDims = 2)
          .orderBy("id_a", "id_b")
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |aug AS (SELECT vec_id, v FROM base
             |        UNION ALL
             |        SELECT vec_id + 100000, list_transform(v, x -> x * 1.0625) FROM base)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
             |FROM aug a JOIN aug b ON a.vec_id < b.vec_id
             |WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.99
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- SemDeDup-style semantic dedup: nearest-seed-centroid cells
    //      bound the quadratic cosine stage (Σ cell² , never corpus²),
    //      then keep-lowest-id canonical inside each cell at
    //      cosine >= 0.99. Near-dups are CONSTRUCTED (scaled copies,
    //      x1.0625 — dyadic, so round(q*1000) quantizes identically in
    //      both engines and the copy's cosine to its base is ~1); the
    //      oracle replays seed selection, exact-BIGINT assignment,
    //      intra-cell pairing, and the keeper rule verbatim. The copy
    //      is NOT guaranteed to share its base's cell — when a cell
    //      boundary separates them the pair survives, the documented
    //      SemDeDup recall trade both engines agree on. ----
    Q("dedup_semantic_clusters",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
        val perturbed = emb.select(
          (col("vec_id") + 100000).as("vec_id"),
          expr("transform(e, x -> x * 1.0625)").as("e"))
        graft.operators.Similarity
          .semanticDedup(emb.union(perturbed), "vec_id", "e",
            nClusters = 8, threshold = 0.99)
          .orderBy("vec_id")
      },
      Some("""WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |aug AS (SELECT vec_id, v FROM base
             |        UNION ALL
             |        SELECT vec_id + 100000, list_transform(v, x -> x * 1.0625) FROM base),
             |d AS (SELECT vec_id, i AS pos, CAST(round(v[i] * 1000) AS BIGINT) AS q
             |      FROM (SELECT vec_id, v, unnest(generate_series(1, len(v))) AS i FROM aug)),
             |seeds AS (SELECT vec_id AS c_id FROM aug ORDER BY vec_id LIMIT 8),
             |sd AS (SELECT s.c_id, d.pos, d.q AS cq
             |       FROM d JOIN seeds s ON d.vec_id = s.c_id),
             |sc AS (SELECT d.vec_id, sd.c_id,
             |         CAST(SUM(sd.cq * sd.cq) - 2 * SUM(d.q * sd.cq) AS BIGINT) AS score
             |       FROM d JOIN sd USING (pos) GROUP BY 1, 2),
             |a AS (SELECT vec_id, c_id AS cluster_id FROM (
             |        SELECT vec_id, c_id,
             |          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score, c_id) AS rn
             |        FROM sc) WHERE rn = 1),
             |pruned AS (SELECT DISTINCT y.vec_id
             |           FROM a x JOIN a y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
             |           JOIN aug va ON va.vec_id = x.vec_id
             |           JOIN aug vb ON vb.vec_id = y.vec_id
             |           WHERE list_dot_product(va.v, vb.v) /
             |                 (sqrt(list_dot_product(va.v, va.v)) * sqrt(list_dot_product(vb.v, vb.v))) >= 0.99)
             |SELECT a.vec_id, a.cluster_id,
             |  a.vec_id NOT IN (SELECT vec_id FROM pruned) AS kept
             |FROM a ORDER BY a.vec_id""".stripMargin)),

    Q("embed_near_dups",
      (s, dir) => {
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
          // norm once per vector, not once per pair (same expression
          // value — bit-identical to inline recomputation)
          .withColumn("nrm", sqrt(graft.functions.VectorOps.dot(col("e"), col("e"))))
        val a = emb.select(col("vec_id").as("id_a"), col("e").as("va"), col("nrm").as("na"))
        val b = emb.select(col("vec_id").as("id_b"), col("e").as("vb"), col("nrm").as("nb"))
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("cos_sim",
            graft.functions.VectorOps.dot(col("va"), col("vb")) / (col("na") * col("nb")))
          .filter(col("cos_sim") >= 0.4)
          .select("id_a", "id_b", "cos_sim")
          .orderBy("id_a", "id_b")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- RECIPROCAL-RANK-FUSION HYBRID RETRIEVAL: the lexical leg
    //      (BM25 top-20 served FROM the MAINTAINED incremental index
    //      — bm25IncrementalTables + the query-time-norm scorer; at
    //      100 TB you maintain ONE index, so the production hybrid
    //      stack must ride it, VERDICT r17 #2) fused with the dense
    //      leg (cosine top-20 vs the probe vector) by RRF with the
    //      standard k=60: score(d) = Σ_legs 1/(60 + rank_leg(d)) —
    //      THE first-stage shape of a production RAG retrieval stack
    //      (two cheap candidate generators, one rank-space merge that
    //      needs no score calibration between BM25 micros and
    //      cosines). Kept integer-exact as Σ floor(1e9/(60+rank)).
    //      Ranks are computed WITHOUT a single-partition window: each
    //      leg is already a ≤20-row frame after its TakeOrdered, so
    //      rank = 1 + |strictly-better| via a broadcast self-join
    //      over 20 rows (better = higher score, ties to the lower
    //      id — identical to ROW_NUMBER over (score DESC, id)).
    //      Scale: each leg's candidate generation is the already-
    //      audited serving shape (bucket-pruned postings / broadcast
    //      probe map-side scan); the fusion itself touches 40 rows
    //      whatever the corpus size. ----
    Q("sim_rrf_fusion",
      (s, dir) => {
        val terms = Seq("spark", "merge", "window")
        val (postings, stats) = TextQueries.bm25IncrementalTables(s, dir)
        val lex = TextQueries.bm25ScoreTerms(postings, stats, terms, 20)
          .withColumnRenamed("score_micro", "s_lex")
          .checkpointed() // 20 rows; both sides of the rank self-join
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
        val dense = graft.operators.Similarity
          .bruteForceTopK(emb.filter(col("vec_id") =!= 0), probe, "e", 20)
          .select(col("vec_id").as("doc_id"), col("cos_sim"))
          .checkpointed()
        TextQueries.rrfLeg(lex, "s_lex", "r_lex")
          .join(TextQueries.rrfLeg(dense, "cos_sim", "r_dense"),
            Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(col("r_lex"), lit(0L)) + coalesce(col("r_dense"), lit(0L)))
              .as("rrf_nano"))
          .orderBy(desc("rrf_nano"), col("doc_id"))
          .limit(10)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
             |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS l FROM d),
             |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM (SELECT doc_id, unnest(w) AS token FROM toks)
             |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |idf AS (SELECT token,
             |          CAST(round(ln(2.0 * (s.nd + 1) / (df.df * 2 + 1)) * 1000) AS BIGINT) AS idf_pm
             |        FROM df CROSS JOIN st s),
             |sc AS (SELECT tf.doc_id,
             |         (idf.idf_pm * 22000 * tf.tf * 1000)
             |           // (10000 * tf.tf + 3000 + 9 * ((1000 * d.dl * s.nd) // s.l)) AS contrib
             |       FROM tf JOIN idf USING (token) JOIN d USING (doc_id) CROSS JOIN st s),
             |lex AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS s_lex FROM sc GROUP BY 1
             |        ORDER BY s_lex DESC, doc_id LIMIT 20),
             |lr AS (SELECT doc_id,
             |         1000000000 // (60 + ROW_NUMBER() OVER (ORDER BY s_lex DESC, doc_id)) AS r_lex
             |       FROM lex),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
             |dense AS (SELECT vec_id AS doc_id,
             |            list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |          FROM e, probe WHERE vec_id <> 0
             |          ORDER BY cos_sim DESC, vec_id LIMIT 20),
             |dr AS (SELECT doc_id,
             |         1000000000 // (60 + ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id)) AS r_dense
             |       FROM dense)
             |SELECT doc_id,
             |  CAST(COALESCE(r_lex, 0) + COALESCE(r_dense, 0) AS BIGINT) AS rrf_nano
             |FROM lr FULL OUTER JOIN dr USING (doc_id)
             |ORDER BY rrf_nano DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- THREE-LEG HYBRID FUSION: sim_rrf_fusion's shape with the
    //      round's second lexical ranking family as a third leg —
    //      BM25, Dirichlet query-likelihood, and dense cosine, merged
    //      in rank space by RRF k=60. BOTH lexical legs now score off
    //      the ONE maintained incremental index (a single
    //      bm25IncrementalTables read feeds the BM25 scorer and the
    //      LM scorer — VERDICT r17 #2: the production index IS the
    //      maintained index). Two lexical models disagree exactly
    //      where their length/priors differ, and the fusion needs no
    //      calibration between BM25 micros, LM log-micros, and
    //      cosines — the production reason RRF is the default
    //      first-stage merge. Integer-exact Σ floor(1e9/(60+rank));
    //      ranks via 20-row broadcast count-of-better, never a
    //      one-partition window. ----
    Q("sim_rrf_fusion3",
      (s, dir) => {
        val terms = Seq("spark", "merge", "window")
        val (postings, stats) = TextQueries.bm25IncrementalTables(s, dir)
        val lex = TextQueries.bm25ScoreTerms(postings, stats, terms, 20)
          .withColumnRenamed("score_micro", "s_lex")
          .checkpointed()
        val ihits = postings.filter(col("token").isin(terms: _*))
        val ctf = ihits.groupBy("token").agg(sum("tf").as("ctf"))
        val lm = ihits.join(broadcast(ctf), Seq("token"))
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("dl"),
            expr("CAST(round(ln(CAST(2000 * ctf + tf * l AS DOUBLE)" +
              " / CAST(2000 * ctf AS DOUBLE)) * 1000000) AS BIGINT)").as("hm"))
          .groupBy("doc_id", "dl").agg(sum("hm").as("hits_micro"))
          .select(col("doc_id"),
            (col("hits_micro") + lit(3L) *
              expr("CAST(round(ln(CAST(2000 AS DOUBLE) / CAST(dl + 2000 AS DOUBLE)) * 1000000) AS BIGINT)"))
              .as("s_lm"))
          .orderBy(desc("s_lm"), col("doc_id")).limit(20)
          .checkpointed()
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb.filter(col("vec_id") === 0).select(col("e").as("probe_e"))
        val dense = graft.operators.Similarity
          .bruteForceTopK(emb.filter(col("vec_id") =!= 0), probe, "e", 20)
          .select(col("vec_id").as("doc_id"), col("cos_sim"))
          .checkpointed()
        TextQueries.rrfLeg(lex, "s_lex", "r_lex")
          .join(TextQueries.rrfLeg(lm, "s_lm", "r_lm"), Seq("doc_id"), "full_outer")
          .join(TextQueries.rrfLeg(dense, "cos_sim", "r_dense"), Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(col("r_lex"), lit(0L)) + coalesce(col("r_lm"), lit(0L)) +
              coalesce(col("r_dense"), lit(0L))).as("rrf_nano"))
          .orderBy(desc("rrf_nano"), col("doc_id"))
          .limit(10)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
             |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS l FROM d),
             |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM (SELECT doc_id, unnest(w) AS token FROM toks)
             |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |idf AS (SELECT token,
             |          CAST(round(ln(2.0 * (s.nd + 1) / (df.df * 2 + 1)) * 1000) AS BIGINT) AS idf_pm
             |        FROM df CROSS JOIN st s),
             |sc AS (SELECT tf.doc_id,
             |         (idf.idf_pm * 22000 * tf.tf * 1000)
             |           // (10000 * tf.tf + 3000 + 9 * ((1000 * d.dl * s.nd) // s.l)) AS contrib
             |       FROM tf JOIN idf USING (token) JOIN d USING (doc_id) CROSS JOIN st s),
             |lex AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS s_lex FROM sc GROUP BY 1
             |        ORDER BY s_lex DESC, doc_id LIMIT 20),
             |lr AS (SELECT doc_id,
             |         1000000000 // (60 + ROW_NUMBER() OVER (ORDER BY s_lex DESC, doc_id)) AS r_lex
             |       FROM lex),
             |ctf AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
             |lmsc AS (SELECT tf.doc_id,
             |           CAST(round(ln(CAST(2000 * ctf.ctf + tf.tf * s.l AS DOUBLE)
             |             / CAST(2000 * ctf.ctf AS DOUBLE)) * 1000000) AS BIGINT) AS hm
             |         FROM tf JOIN ctf USING (token) CROSS JOIN st s),
             |lmagg AS (SELECT doc_id, CAST(SUM(hm) AS BIGINT) AS hits_micro FROM lmsc GROUP BY 1),
             |lm AS (SELECT lmagg.doc_id,
             |         CAST(hits_micro + 3 * CAST(round(ln(CAST(2000 AS DOUBLE)
             |           / CAST(d.dl + 2000 AS DOUBLE)) * 1000000) AS BIGINT) AS BIGINT) AS s_lm
             |       FROM lmagg JOIN d ON d.doc_id = lmagg.doc_id
             |       ORDER BY s_lm DESC, lmagg.doc_id LIMIT 20),
             |lmr AS (SELECT doc_id,
             |          1000000000 // (60 + ROW_NUMBER() OVER (ORDER BY s_lm DESC, doc_id)) AS r_lm
             |        FROM lm),
             |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |probe AS (SELECT v AS pv FROM e WHERE vec_id = 0),
             |dense AS (SELECT vec_id AS doc_id,
             |            list_dot_product(v, pv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv))) AS cos_sim
             |          FROM e, probe WHERE vec_id <> 0
             |          ORDER BY cos_sim DESC, vec_id LIMIT 20),
             |dr AS (SELECT doc_id,
             |         1000000000 // (60 + ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id)) AS r_dense
             |       FROM dense)
             |SELECT doc_id,
             |  CAST(COALESCE(r_lex, 0) + COALESCE(r_lm, 0) + COALESCE(r_dense, 0) AS BIGINT) AS rrf_nano
             |FROM lr FULL OUTER JOIN lmr USING (doc_id) FULL OUTER JOIN dr USING (doc_id)
             |ORDER BY rrf_nano DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- BINARY-EMBEDDING HAMMING RETRIEVAL: each vector collapses
    //      to its 64 SIGN BITS (two packed 32-bit words) and top-k
    //      runs on Hamming distance — the 1-bit-per-dimension first
    //      stage of a memory-bound ANN stack (32x less memory
    //      traffic than float dims; bit_count(xor) is a handful of
    //      instructions per candidate; production composition is
    //      hamming-shortlist -> float re-rank, same pattern as the
    //      PQ/matryoshka stages). Packing is a map-side HOF fold
    //      over the array (no explode, no shuffle — the corpus-sized
    //      path stays narrow); the probe is one broadcast row; the
    //      top-k is TakeOrderedAndProject. Sign convention x > 0 is
    //      an exact double comparison both engines share. ----
    Q("sim_hamming_topk",
      (s, dir) => {
        // the packed table is the Similarity.signBitsTable operator —
        // built once per corpus fingerprint, appended by projection;
        // serving reads only the two packed words per row (r18/r19:
        // the persisted-index treatment for the Hamming family)
        val packed = bitsTableCached(s, dir)
        val probe = packed.filter(col("vec_id") === 0)
          .select(col("lo").as("plo"), col("hi").as("phi"))
        graft.operators.Similarity
          .hammingTopK(packed.filter(col("vec_id") =!= 0), probe, 10)
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |bits AS (SELECT vec_id, p.p AS p, (v[p.p + 1] > 0) AS b
             |         FROM e, (SELECT unnest(range(0, 64)) AS p) p),
             |packed AS (SELECT vec_id,
             |    SUM(CASE WHEN b AND p < 32 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS lo,
             |    SUM(CASE WHEN b AND p >= 32 THEN (CAST(1 AS BIGINT) << CAST(p - 32 AS INT)) ELSE 0 END) AS hi
             |  FROM bits GROUP BY 1),
             |probe AS (SELECT lo AS plo, hi AS phi FROM packed WHERE vec_id = 0)
             |SELECT vec_id,
             |  CAST(bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) AS BIGINT) AS hamming
             |FROM packed, probe WHERE vec_id <> 0
             |ORDER BY hamming, vec_id LIMIT 10""".stripMargin)),

    // ---- BATCH Hamming serving (r19 — the 1-bit rung joins the
    //      probe-batch `rk` contract the other five families share):
    //      every probe's packed words ride the broadcast probe frame
    //      off the SAME fingerprint-cached signBitsTable, distance is
    //      two XOR+popcounts per (row, probe), and the per-probe rank
    //      is the bounded heap (shuffle rows track probes·k, never
    //      probes·corpus). Exact given the signatures — packing and
    //      bit_count(xor) replay in SQL, so unlike the hyperplane
    //      families this batch gate is a REAL DuckDB oracle row. ----
    Q("sim_hamming_batch_topk",
      (s, dir) => {
        val packed = bitsTableCached(s, dir)
        val probes = packed.filter(col("vec_id").isin(0L, 7L, 42L))
          .select(col("vec_id").as("probe_id"),
            col("lo").as("plo"), col("hi").as("phi"))
        graft.operators.Similarity
          .hammingBatchTopK(packed, probes, k = 10, excludeSelf = true)
          .orderBy("probe_id", "rk")
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |bits AS (SELECT vec_id, p.p AS p, (v[p.p + 1] > 0) AS b
             |         FROM e, (SELECT unnest(range(0, 64)) AS p) p),
             |packed AS (SELECT vec_id,
             |    SUM(CASE WHEN b AND p < 32 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS lo,
             |    SUM(CASE WHEN b AND p >= 32 THEN (CAST(1 AS BIGINT) << CAST(p - 32 AS INT)) ELSE 0 END) AS hi
             |  FROM bits GROUP BY 1),
             |probes AS (SELECT vec_id AS probe_id, lo AS plo, hi AS phi
             |           FROM packed WHERE vec_id IN (0, 7, 42)),
             |d AS (SELECT p.probe_id, k.vec_id,
             |        CAST(bit_count(xor(k.lo, p.plo)) + bit_count(xor(k.hi, p.phi)) AS BIGINT) AS hamming
             |      FROM packed k, probes p WHERE k.vec_id <> p.probe_id),
             |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY probe_id
             |        ORDER BY hamming, vec_id) AS INTEGER) AS rk FROM d)
             |SELECT probe_id, vec_id, hamming, rk FROM r WHERE rk <= 10
             |ORDER BY probe_id, rk""".stripMargin)),

    // ---- RETRIEVAL-SERVING LATENCY REPORT (r17 #8 / r18 next #7 —
    //      the serving-SLA twin of the freshness monitor): per
    //      precision-ladder family, the MEDIAN single-probe top-10
    //      latency through the SAME fingerprint-cached persisted
    //      tables production serves from, with the float brute scan
    //      as the no-index baseline. Latency is MEASURED, not derived
    //      — values vary run to run on a shared box, so the row is
    //      rows-only with no REQUIRE floor (a latency floor would
    //      flake under contention; the stable contract is the row
    //      count, one per family, and the operational readout is the
    //      relative ordering — the 1-bit/int8/prefix rungs beating
    //      the float scan as the corpus grows). 3 runs per family,
    //      median, microseconds. ----
    Q("sim_serving_latency_report",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.t(s, dir, "embeddings")
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
          .select("vec_id", "e")
        val probeB = emb.filter(col("vec_id") === 0)
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
          .checkpointed()
        val probe1 = probeB.select(col("probe_e")).checkpointed()
        val packed = bitsTableCached(s, dir)
        val probeBits = packed.filter(col("vec_id") === 0)
          .select(col("lo").as("plo"), col("hi").as("phi")).checkpointed()
        val sigs = Some(sigTableCached(s, dir))
        val pfx = Some(prefixTableCached(s, dir, 32))
        val sq8 = Some(sq8TableCached(s, dir))
        def medianMicros(mk: () => org.apache.spark.sql.DataFrame): Long = {
          val times = (1 to 3).map { _ =>
            val t0 = System.nanoTime()
            mk().collect()
            (System.nanoTime() - t0) / 1000L
          }.sorted
          times(1)
        }
        val sim = graft.operators.Similarity
        val legs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
          "float_brute" -> (() => sim.bruteForceTopK(
            emb.filter(col("vec_id") =!= 0), probe1, "e", 10)),
          "bits_hamming" -> (() => sim.hammingTopK(
            packed.filter(col("vec_id") =!= 0), probeBits, 10)),
          "int8_sq8" -> (() => sim.sq8BatchTopK(emb, probeB, "e", k = 10,
            shortlistFactor = 2, quantized = sq8, excludeSelf = true)),
          "mrl_prefix32" -> (() => sim.mrlBatchTopK(emb, probeB, "e",
            dPrefix = 32, k = 10, shortlistFactor = 8, prefixes = pfx,
            excludeSelf = true)),
          "lsh_bucketed" -> (() => sim.annBucketedBatchTopK(emb, probeB, "e",
            dim = 64, k = 10, nBits = 16, probeHamming = 2, sigs = sigs)))
        legs.map { case (family, mk) =>
          (family, 10L, 3L, medianMicros(mk))
        }.toDF("family", "k", "n_runs", "median_micros")
      },
      None),

    // ---- K-MEANS++ SEEDING (farthest-point / k-center greedy): the
    //      distributed initialization step k-means|| parallelizes —
    //      from seed₀ = vec 0, each round picks the point MAXIMIZING
    //      its min squared distance to the chosen seeds. Two rounds
    //      unrolled here (the oracle states them as two explicit
    //      argmax CTEs — a recursive form would hide the tie rule).
    //      Exact: distances are Σ(Δq)² over round(x·1000)-quantized
    //      BIGINTs; argmax ties break to the lower vec_id. Scale: per
    //      round, ONE map-side pass computes d² to the (metadata-
    //      sized, broadcast-as-literal) seed set and a TakeOrdered(1)
    //      picks the winner — seeds collect to the driver exactly
    //      like IVF centroids; rounds = k, never corpus². ----
    Q("embed_kmeanspp_seeds",
      (s, dir) => {
        import s.implicits._
        val emb = Tables.t(s, dir, "embeddings")
          .select(col("vec_id"), expr(
            "transform(cast(embedding as array<double>), x -> CAST(round(x * 1000) AS BIGINT))")
            .as("q"))
        def d2To(seed: Seq[Long]): org.apache.spark.sql.Column = {
          val sc = typedlit(seed)
          aggregate(zip_with(col("q"), sc, (x, y) => (x - y) * (x - y)),
            lit(0L), (a, x) => a + x)
        }
        val q0 = emb.filter(col("vec_id") === 0).select("q")
          .head().getSeq[Long](0).toSeq
        val r1 = emb.filter(col("vec_id") =!= 0)
          .withColumn("d2", d2To(q0))
          .orderBy(desc("d2"), col("vec_id")).limit(1)
          .select("vec_id", "q", "d2").head()
        val (id1, q1, d21) = (r1.getLong(0), r1.getSeq[Long](1).toSeq, r1.getLong(2))
        val r2 = emb.filter(col("vec_id") =!= 0 && col("vec_id") =!= id1)
          .withColumn("mind2", least(d2To(q0), d2To(q1)))
          .orderBy(desc("mind2"), col("vec_id")).limit(1)
          .select("vec_id", "mind2").head()
        Seq((1L, id1, d21), (2L, r2.getLong(0), r2.getLong(1)))
          .toDF("step", "seed_id", "min_d2")
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding::DOUBLE[], x -> CAST(round(x * 1000) AS BIGINT)) AS q
             |  FROM embeddings),
             |s0 AS (SELECT q AS q0 FROM e WHERE vec_id = 0),
             |d1 AS (SELECT vec_id, q,
             |    CAST(list_sum(list_transform(range(1, 65),
             |      i -> (q[i] - q0[i]) * (q[i] - q0[i]))) AS BIGINT) AS d2
             |  FROM e, s0 WHERE vec_id <> 0),
             |s1 AS (SELECT vec_id AS id1, q AS q1, d2 AS d2_1 FROM d1
             |       ORDER BY d2 DESC, vec_id LIMIT 1),
             |dt AS (SELECT d1.vec_id,
             |    LEAST(d1.d2, CAST(list_sum(list_transform(range(1, 65),
             |      i -> (d1.q[i] - s1.q1[i]) * (d1.q[i] - s1.q1[i]))) AS BIGINT)) AS mind2
             |  FROM d1, s1 WHERE d1.vec_id <> s1.id1),
             |s2 AS (SELECT vec_id AS id2, mind2 AS d2_2 FROM dt
             |       ORDER BY mind2 DESC, vec_id LIMIT 1)
             |SELECT CAST(1 AS BIGINT) AS step, id1 AS seed_id, d2_1 AS min_d2 FROM s1
             |UNION ALL SELECT 2, id2, d2_2 FROM s2
             |ORDER BY step""".stripMargin))
  )
}
