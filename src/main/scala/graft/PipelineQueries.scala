package graft

import graft.operators.{Privacy, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Dataset-assembly queries for the training-data tier: deterministic
 * splits, sequence packing, PII scrubbing — the operations between
 * "corpus is deduped" and "corpus is a training set". All are pure
 * column/window plans (no UDFs, no driver loops) with DuckDB oracles.
 */
object PipelineQueries {

  /** `decontaminate_bloom`'s eval slice. */
  private def bloomEval(docs: DataFrame): DataFrame = docs.filter(col("doc_id") % 25 === 0)

  /** The Bloom filter over `decontaminate_bloom`'s eval n-grams, built
    * once per corpus and kept as `bloom_<fp>.bin` under the cache root
    * (Bench purges and times it as `sidx_bloom`). */
  def bloomBytesCached(s: SparkSession, dir: String): Array[Byte] = {
    // cache key = CONTENT fingerprint (not path): a regenerated
    // corpus must never reuse a stale filter (Bloom false
    // negatives would silently unflag contamination). Write via
    // temp + atomic move so a concurrent reader never sees a
    // truncated filter.
    // owner-only cache root (CacheDirs verifies ownership) — a
    // pre-created world-writable /tmp file could otherwise feed
    // the gate a planted filter
    val fp = Tables.fingerprint(s, s"$dir/documents.parquet")
    val fix = java.nio.file.Paths.get(s"${CacheDirs.root}/bloom_$fp.bin")
    if (java.nio.file.Files.exists(fix)) java.nio.file.Files.readAllBytes(fix)
    else {
      val eval_ = bloomEval(Tables.t(s, dir, "documents").select("doc_id", "text"))
      val b = graft.operators.Contamination.buildEvalBloom(eval_, "text", n = 4)
      val tmp = java.nio.file.Files.createTempFile(
        fix.getParent, "bloom_", ".tmp")
      try {
        java.nio.file.Files.write(tmp, b)
        java.nio.file.Files.move(tmp, fix,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally java.nio.file.Files.deleteIfExists(tmp)
      b
    }
  }

  val all: Seq[Q] = Seq(

    // ---- deterministic train/val/test split. The registered query
    //      buckets with an LCG-style arithmetic mix both engines can
    //      evaluate; production uses the xxhash64 default (same
    //      operator, engine-stable). ----
    Q("sample_split",
      (s, dir) => Sampling.hashSplit(
          Tables.t(s, dir, "documents").select("doc_id"),
          "doc_id",
          Seq("train" -> 80, "val" -> 10, "test" -> 10),
          bucketExpr = Some(pmod(col("doc_id") * 1103515245L + 12345L, lit(100L))))
        .select("doc_id", "split_bucket", "split")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |(doc_id * 1103515245 + 12345) % 100 AS split_bucket,
             |CASE WHEN (doc_id * 1103515245 + 12345) % 100 < 80 THEN 'train'
             |     WHEN (doc_id * 1103515245 + 12345) % 100 < 90 THEN 'val'
             |     ELSE 'test' END AS split
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- sequence packing: shard-parallel stream-order fill of
    //      4096-token context windows. The shard key is what scales —
    //      no global order, one running sum per shard. ----
    Q("pack_sequences",
      (s, dir) => Sampling.packSequences(
          Tables.t(s, dir, "documents").select("doc_id", "text"),
          "doc_id",
          tokensCol = size(split(col("text"), " ")),
          shardCol = pmod(col("doc_id"), lit(8L)),
          budget = 4096)
        .select("doc_id", "pack_shard", "n_tokens", "bin")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS pack_shard,
             |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens FROM documents)
             |SELECT doc_id, pack_shard, n_tokens,
             |  CAST(floor((SUM(n_tokens) OVER (PARTITION BY pack_shard ORDER BY doc_id)
             |              - n_tokens) / 4096.0) AS BIGINT) AS bin
             |FROM t ORDER BY doc_id""".stripMargin)),

    // ---- benchmark decontamination: training docs sharing any
    //      distinct 4-gram with the eval slice (doc_id % 20 == 0) are
    //      flagged with their overlap count (4 because the synthetic
    //      docs are short; production would use ~13 per the GPT-3
    //      appendix). The eval side is bounded by construction, so its
    //      gram set broadcasts and the training side never shuffles. ----
    Q("decontaminate",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        graft.operators.Contamination.flagContaminated(
            train = docs.filter(col("doc_id") % 20 =!= 0),
            eval = docs.filter(col("doc_id") % 20 === 0),
            "doc_id", "text", n = 4)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
             |      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 3, 0))) AS i
             |            FROM w)),
             |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0)
             |SELECT g.doc_id, COUNT(*) AS n_shared_grams
             |FROM g JOIN e USING (gram)
             |WHERE g.doc_id % 20 <> 0
             |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    // ---- bloom-pruned decontamination: same semantics as
    //      `decontaminate` (bloom has no false negatives; candidates
    //      are exactly re-verified) but the training side is pruned
    //      map-side by a broadcast-size Bloom filter BEFORE any
    //      shuffle — at 100 TB the clean bulk never leaves its
    //      partition. Eval slice doc_id % 25 == 0 so the two
    //      registered queries stay independently checkable.
    //      Build-once/probe-many: the filter bytes persist next to the
    //      benchmark they summarize (a few KB of metadata), so verify
    //      and bench runs over the same corpus train the filter once
    //      and every later plan is construction-time-lazy. ----
    Q("decontaminate_bloom",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        graft.operators.Contamination.flagContaminatedBloom(
            train = docs.filter(col("doc_id") % 25 =!= 0),
            eval = bloomEval(docs), "doc_id", "text", bloomBytesCached(s, dir), n = 4,
            minMatches = 1)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
             |      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 3, 0))) AS i
             |            FROM w)),
             |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 25 = 0)
             |SELECT g.doc_id, COUNT(*) AS n_shared_grams
             |FROM g JOIN e USING (gram)
             |WHERE g.doc_id % 25 <> 0
             |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    // ---- corpus duplication score: fraction of each doc's distinct
    //      3-grams occurring in >= 2 documents (the RefinedWeb-style
    //      boilerplate signal). Only duplicated grams ride the join
    //      back — unique grams (the bulk) never leave their partition
    //      twice. ----
    Q("dup_gram_fraction",
      (s, dir) => graft.operators.Contamination.duplicateGramFraction(
          Tables.t(s, dir, "documents"), "doc_id", "text", n = 3)
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
             |      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
             |            FROM w)),
             |f AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2)
             |SELECT g.doc_id, COUNT(*) AS n_grams,
             |  CAST(SUM(CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
             |  CAST(SUM(CASE WHEN f.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS dup_fraction
             |FROM g LEFT JOIN f ON g.gram = f.gram
             |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin)),

    // ---- sliding-window chunking: 32-token training contexts every
    //      24 tokens (overlapping), final chunk may be short. Pure
    //      per-row generate + slice — no shuffle. ----
    Q("chunk_documents",
      (s, dir) => Sampling.chunkDocuments(
          Tables.t(s, dir, "documents").select("doc_id", "text"),
          "doc_id", "text", chunkSize = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |s AS (SELECT doc_id, w, unnest(generate_series(1, len(w), 24)) AS i FROM w)
             |SELECT doc_id,
             |  CAST((i - 1) // 24 AS INTEGER) AS chunk_idx,
             |  CAST(least(32, len(w) - i + 1) AS INTEGER) AS n_chunk_tokens,
             |  array_to_string(w[i : i + 31], ' ') AS chunk_text
             |FROM s ORDER BY doc_id, chunk_idx""".stripMargin)),

    // ---- stratified sampling: per-language keep-percentages (the
    //      corpus-mixture rebalancing knob), deterministic via the
    //      same LCG bucket both engines can evaluate. ----
    Q("stratified_sample",
      (s, dir) => Sampling.stratifiedSample(
          Tables.t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "lang",
          pctByStratum = Map("en" -> 40, "zh" -> 80), defaultPct = 100,
          bucketExpr = Some(pmod(col("doc_id") * 1103515245L + 12345L, lit(100L))))
        .select("doc_id", "lang", "sample_bucket")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang,
             |  (doc_id * 1103515245 + 12345) % 100 AS sample_bucket
             |FROM documents
             |WHERE (doc_id * 1103515245 + 12345) % 100 <
             |  CASE WHEN lang = 'en' THEN 40 WHEN lang = 'zh' THEN 80 ELSE 100 END
             |ORDER BY doc_id""".stripMargin)),

    // ---- deterministic corpus shuffle with explicit global
    //      positions: two-phase distributed rank (bucket histogram ->
    //      metadata prefix-sum -> broadcast offsets), never a
    //      single-partition window. ----
    Q("corpus_shuffle",
      (s, dir) => Sampling.deterministicShuffle(
          Tables.t(s, dir, "documents").select("doc_id"),
          "doc_id", buckets = 64,
          bucketExpr = Some(pmod(col("doc_id") * 1103515245L + 12345L, lit(64L))))
        .select("doc_id", "shuffle_bucket", "shuffle_pos")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  (doc_id * 1103515245 + 12345) % 64 AS shuffle_bucket,
             |  CAST(ROW_NUMBER() OVER (ORDER BY (doc_id * 1103515245 + 12345) % 64, doc_id) - 1 AS BIGINT) AS shuffle_pos
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- token-budget cap: keep documents per language, in
    //      deterministic hash order, until 20k chars are spent — the
    //      "N tokens per domain" mixture knob. Two-phase running sum
    //      (per-bucket totals -> metadata prefix offsets -> local
    //      cumsum), never one window per stratum; the oracle is the
    //      naive global running sum, so membership parity IS the
    //      two-phase correctness proof. ----
    // ---- HORVITZ-THOMPSON ESTIMATION over a deterministic weighted
    //      sample: rows enter with md5-hash permille < w (importance
    //      900 for big orders, 100 for the rest — the tail is kept
    //      almost surely, the bulk subsampled 10:1), and each sampled
    //      row is inverse-weighted (x·1000 div w). The gate reports
    //      the TRUE revenue total beside the HT estimate and its
    //      deviation — the measurement that certifies a weighted
    //      sample before anyone trains or reports from it. Hash
    //      inclusion is the portable md5-nibble idiom, every quantity
    //      an exact BIGINT; both engines replay the identical sample.
    //      One scan, one aggregation. ----
    Q("sample_ht_total",
      (s, dir) => {
        val o = Tables.t(s, dir, "orders")
          .select(col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .withColumn("w",
            when(col("cents") > 10000000L, 900L).otherwise(100L))
          .withColumn("h",
            expr("CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 3), 16, 10) AS BIGINT) % 1000"))
        o.agg(
            sum("cents").as("true_total_cents"),
            sum(when(col("h") < col("w"), expr("cents * 1000 div w"))
              .otherwise(0L)).as("ht_estimate_cents"),
            sum(when(col("h") < col("w"), 1L).otherwise(0L)).as("n_sampled"))
          .withColumn("abs_dev_permille",
            expr("abs(ht_estimate_cents - true_total_cents) * 1000 div true_total_cents"))
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |w AS (SELECT o_orderkey, cents,
             |        CASE WHEN cents > 10000000 THEN 900 ELSE 100 END AS w,
             |        CAST((strpos('0123456789abcdef',
             |                substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) - 1) * 256
             |           + (strpos('0123456789abcdef',
             |                substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1)) - 1) * 16
             |           + (strpos('0123456789abcdef',
             |                substr(md5(CAST(o_orderkey AS VARCHAR)), 3, 1)) - 1) AS BIGINT) % 1000 AS h
             |      FROM o)
             |SELECT CAST(SUM(cents) AS BIGINT) AS true_total_cents,
             |  CAST(SUM(CASE WHEN h < w THEN cents * 1000 // w ELSE 0 END) AS BIGINT) AS ht_estimate_cents,
             |  CAST(SUM(CASE WHEN h < w THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
             |  CAST(ABS(CAST(SUM(CASE WHEN h < w THEN cents * 1000 // w ELSE 0 END) AS BIGINT)
             |    - CAST(SUM(cents) AS BIGINT)) * 1000
             |    // CAST(SUM(cents) AS BIGINT) AS BIGINT) AS abs_dev_permille
             |FROM w""".stripMargin)),

    Q("sample_token_budget",
      (s, dir) => Sampling.tokenBudgetCap(
          Tables.t(s, dir, "documents")
            .select(col("doc_id"), col("lang"), length(col("text")).cast("long").as("toks")),
          "doc_id", "lang", "toks", budgetPerStratum = 20000L, buckets = 64,
          bucketExpr = Some(pmod(col("doc_id") * 1103515245L + 12345L, lit(64L))))
        .select("doc_id", "lang", "toks")
        .orderBy("doc_id"),
      Some("""WITH b AS (SELECT doc_id, lang, CAST(LENGTH(text) AS BIGINT) AS toks,
             |  (doc_id * 1103515245 + 12345) % 64 AS bkt FROM documents),
             |c AS (SELECT doc_id, lang, toks,
             |  SUM(toks) OVER (PARTITION BY lang ORDER BY bkt, doc_id
             |                  ROWS UNBOUNDED PRECEDING) AS cum FROM b)
             |SELECT doc_id, lang, toks FROM c
             |WHERE cum <= 20000 ORDER BY doc_id""".stripMargin)),

    // ---- weighted domain mixing: the "epochs per source" knob of a
    //      training mixture. src0 runs 2.5 epochs (2-3 deterministic
    //      copies), src1 exactly 1, src2 1.5, src3 is blocked (0),
    //      the long tail keeps 40%. Filter + per-row sequence explode
    //      — no shuffle; replication happens where the row lives. ----
    Q("mix_domains",
      (s, dir) => Sampling.weightedMix(
          Tables.t(s, dir, "documents").select("doc_id", "source"),
          "doc_id",
          weightPermille = when(col("source") === "src0", 2500L)
            .when(col("source") === "src1", 1000L)
            .when(col("source") === "src2", 1500L)
            .when(col("source") === "src3", 0L)
            .otherwise(400L),
          bucketExpr = Some(pmod(col("doc_id") * 2654435761L + 101L, lit(1000L))))
        .select("doc_id", "source", "mix_weight_permille", "mix_rep")
        .orderBy("doc_id", "mix_rep"),
      Some("""WITH w AS (SELECT doc_id, source,
             |  CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 1000
             |              WHEN 'src2' THEN 1500 WHEN 'src3' THEN 0
             |              ELSE 400 END AS w_pm,
             |  (doc_id * 2654435761 + 101) % 1000 AS b FROM documents),
             |r AS (SELECT doc_id, source, w_pm,
             |  (w_pm // 1000) + CASE WHEN b < w_pm % 1000 THEN 1 ELSE 0 END AS reps
             |  FROM w)
             |SELECT doc_id, source, CAST(w_pm AS BIGINT) AS mix_weight_permille,
             |  CAST(unnest(generate_series(0, reps - 1)) AS BIGINT) AS mix_rep
             |FROM r WHERE reps > 0
             |ORDER BY doc_id, mix_rep""".stripMargin)),

    // ---- temperature sampling (the multilingual rebalancing rule:
    //      keep probability per doc ∝ n_domain^(α−1), α=0.5 — big
    //      domains down-sampled toward the small ones' scale, the
    //      smallest kept whole). The per-domain permille derives from
    //      the SIZES: floor(1000·sqrt(n_min/n)) — sqrt and division
    //      are IEEE correctly-rounded, so both engines compute the
    //      identical integer; membership is the same deterministic
    //      LCG coin as the mixture ops. Scale: sizes are |domains|
    //      rows of broadcast metadata; the keep decision is map-side. ----
    Q("sample_temperature",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents").select("doc_id", "source")
        val sizes = docs.groupBy("source").agg(count(lit(1)).as("n"))
        val pm = sizes
          .crossJoin(broadcast(sizes.agg(min("n").as("n_min"))))
          .withColumn("keep_pm",
            floor(lit(1000.0) *
              sqrt(col("n_min").cast("double") / col("n").cast("double")))
              .cast("long"))
        docs.join(broadcast(pm.select("source", "keep_pm")), "source")
          .filter(pmod(col("doc_id") * 2654435761L + 7L, lit(1000L)) < col("keep_pm"))
          .select("doc_id", "source", "keep_pm")
          .orderBy("doc_id")
      },
      Some("""WITH sz AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
             |mn AS (SELECT MIN(n) AS n_min FROM sz),
             |p AS (SELECT source, CAST(floor(1000.0 *
             |        sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE))) AS BIGINT) AS keep_pm
             |      FROM sz, mn)
             |SELECT d.doc_id, d.source, p.keep_pm
             |FROM documents d JOIN p ON d.source = p.source
             |WHERE (d.doc_id * 2654435761 + 7) % 1000 < p.keep_pm
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- the composed corpus pipeline — the end-to-end flagship of
    //      the training-data tier, as ONE declarative plan Catalyst
    //      optimizes whole: quality gate -> exact dedup (keep min id
    //      per text) -> benchmark decontamination -> stratified
    //      mixture rebalance -> deterministic split assignment.
    //      Different LCG multipliers for sampling vs splitting keep
    //      the two decisions independent. ----
    Q("corpus_pipeline",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text", "lang")
        val quality = docs.filter(size(split(col("text"), " ")) >= 20)
        val keepers = quality.groupBy("text").agg(min("doc_id").as("doc_id")).select("doc_id")
        val deduped = quality.join(keepers, "doc_id")
        val train = deduped.filter(col("doc_id") % 20 =!= 0)
        val contaminated = graft.operators.Contamination.flagContaminated(
            train, docs.filter(col("doc_id") % 20 === 0), "doc_id", "text", n = 4)
          .select("doc_id")
        val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
        val sampled = Sampling.stratifiedSample(clean, "doc_id", "lang",
          pctByStratum = Map("en" -> 40, "zh" -> 80), defaultPct = 100,
          bucketExpr = Some(pmod(col("doc_id") * 1103515245L + 12345L, lit(100L))))
        Sampling.hashSplit(sampled.select("doc_id", "lang"), "doc_id",
            Seq("train" -> 80, "val" -> 10, "test" -> 10),
            bucketExpr = Some(pmod(col("doc_id") * 48271L + 11L, lit(100L))))
          .select("doc_id", "lang", "split")
          .orderBy("doc_id")
      },
      Some("""WITH q AS (SELECT doc_id, text, lang FROM documents
             |           WHERE len(string_split(text, ' ')) >= 20),
             |k AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY text),
             |d AS (SELECT q.* FROM q JOIN k USING (doc_id)),
             |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT DISTINCT doc_id,
             |        w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS gram
             |      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 3, 0))) AS i
             |            FROM w)),
             |e AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
             |contam AS (SELECT DISTINCT g.doc_id FROM g JOIN e USING (gram)
             |           WHERE g.doc_id % 20 <> 0),
             |t AS (SELECT * FROM d WHERE doc_id % 20 <> 0
             |      AND doc_id NOT IN (SELECT doc_id FROM contam)),
             |smp AS (SELECT * FROM t WHERE (doc_id * 1103515245 + 12345) % 100 <
             |        CASE WHEN lang = 'en' THEN 40 WHEN lang = 'zh' THEN 80 ELSE 100 END)
             |SELECT doc_id, lang,
             |  CASE WHEN (doc_id * 48271 + 11) % 100 < 80 THEN 'train'
             |       WHEN (doc_id * 48271 + 11) % 100 < 90 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM smp ORDER BY doc_id""".stripMargin)),

    // ---- PII scrub: the corpus has no real PII, so the query plants
    //      deterministic email/phone/id suffixes per doc and scrubs
    //      them; the oracle reproduces both steps, pinning the full
    //      regex semantics cell-identically. ----
    Q("pii_scrub",
      (s, dir) => Tables.t(s, dir, "documents")
        .withColumn("raw", concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(expr("doc_id % 10000").cast("string"), 4, "0"),
          lit("-1234 ref "),
          (col("doc_id") * 1000003L + 7111111L).cast("string")))
        .select(col("doc_id"),
          Privacy.scrubPii(col("raw")).as("scrubbed"),
          size(regexp_extract_all(col("raw"), lit(Privacy.EmailPattern), lit(0))).as("n_emails"))
        .orderBy("doc_id"),
      Some("""WITH r AS (SELECT doc_id,
             |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-' ||
             |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-1234 ref ' ||
             |  CAST(doc_id * 1000003 + 7111111 AS VARCHAR) AS raw FROM documents)
             |SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(raw,
             |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
             |    '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b', '[PHONE]', 'g'),
             |    '\b\d{6,}\b', '[ID]', 'g') AS scrubbed,
             |  CAST(len(regexp_extract_all(raw,
             |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER) AS n_emails
             |FROM r ORDER BY doc_id""".stripMargin)),

    // ---- k-anonymity audit over the release quasi-identifiers:
    //      every (lang, source, size-bucket) combination must hide
    //      each record among >= k lookalikes, or the release leaks
    //      re-identification handles. One aggregation pass reports
    //      each quasi-group's population and verdict — the privacy
    //      gate a dataset release runs AFTER pii_scrub (scrubbing
    //      direct identifiers does nothing about quasi-identifier
    //      joins). Map-side combinable; never row-expanding. ----
    Q("privacy_k_anonymity",
      (s, dir) => Tables.t(s, dir, "documents")
        .groupBy(col("lang"), col("source"),
          expr("n_chars div 200").as("size_bucket"))
        .agg(count(lit(1)).as("n"))
        .withColumn("meets_k", col("n") >= 3)
        .orderBy("lang", "source", "size_bucket"),
      Some("""SELECT lang, source, n_chars // 200 AS size_bucket,
             |  COUNT(*) AS n, (COUNT(*) >= 3) AS meets_k
             |FROM documents GROUP BY lang, source, n_chars // 200
             |ORDER BY lang, source, size_bucket""".stripMargin)),

    // ---- GENERALIZATION LADDER (k-anonymization planning): the
    //      audit above says WHETHER a release leaks; this report says
    //      WHAT TO DO — for each rung of a generalization lattice
    //      walk (size bands widening 200→12800, then size dropped,
    //      then source, then everything), the suppression cost of
    //      releasing at that rung: rows living in quasi-groups
    //      smaller than k=5 (which a k-anonymous release must
    //      suppress), as exact permille. `chosen` marks the LEAST
    //      general rung whose suppression is <= 5% — the
    //      generalization/suppression trade every release planner
    //      makes. ONE corpus pass: the 7 rungs ride an explode, then
    //      two combinable aggregations; output is 7 rows. ----
    Q("privacy_generalization_ladder",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val widths = Seq(200L, 800L, 3200L, 12800L)
        val rungs =
          widths.zipWithIndex.map { case (w, i) =>
            struct(lit(i.toLong).as("scheme"), col("lang").as("ql"),
              col("source").as("qs"),
              expr(s"CAST(n_chars div $w AS STRING)").as("qb"))
          } ++ Seq(
            struct(lit(4L).as("scheme"), col("lang").as("ql"),
              col("source").as("qs"), lit("*").as("qb")),
            struct(lit(5L).as("scheme"), col("lang").as("ql"),
              lit("*").as("qs"), lit("*").as("qb")),
            struct(lit(6L).as("scheme"), lit("*").as("ql"),
              lit("*").as("qs"), lit("*").as("qb")))
        val total = docs.agg(count(lit(1)).as("t"))
        val perRung = docs.select(explode(array(rungs: _*)).as("q"))
          .groupBy(col("q.scheme").as("scheme"), col("q.ql"), col("q.qs"), col("q.qb"))
          .agg(count(lit(1)).as("n"))
          .groupBy("scheme")
          .agg(count(lit(1)).as("n_groups"),
            sum(when(col("n") < 5, col("n")).otherwise(0L)).as("supp_rows"))
          .crossJoin(broadcast(total))
          .select(col("scheme"), col("n_groups"), col("supp_rows"),
            expr("supp_rows * 1000 div t").as("supp_permille"))
        val chosen = perRung.filter(col("supp_permille") <= 50)
          .agg(min("scheme").as("cs"))
        perRung.crossJoin(broadcast(chosen))
          .select(col("scheme"), col("n_groups"), col("supp_rows"),
            col("supp_permille"), (col("scheme") === col("cs")).as("chosen"))
          .orderBy("scheme")
      },
      Some("""WITH q AS (
             |  SELECT 0 AS scheme, lang AS ql, source AS qs,
             |         CAST(n_chars // 200 AS VARCHAR) AS qb FROM documents
             |  UNION ALL SELECT 1, lang, source, CAST(n_chars // 800 AS VARCHAR) FROM documents
             |  UNION ALL SELECT 2, lang, source, CAST(n_chars // 3200 AS VARCHAR) FROM documents
             |  UNION ALL SELECT 3, lang, source, CAST(n_chars // 12800 AS VARCHAR) FROM documents
             |  UNION ALL SELECT 4, lang, source, '*' FROM documents
             |  UNION ALL SELECT 5, lang, '*', '*' FROM documents
             |  UNION ALL SELECT 6, '*', '*', '*' FROM documents),
             |g AS (SELECT scheme, ql, qs, qb, CAST(COUNT(*) AS BIGINT) AS n
             |      FROM q GROUP BY 1, 2, 3, 4),
             |r AS (SELECT scheme, CAST(COUNT(*) AS BIGINT) AS n_groups,
             |        CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS supp_rows
             |      FROM g GROUP BY 1),
             |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM documents),
             |r2 AS (SELECT scheme, n_groups, supp_rows,
             |         CAST(supp_rows * 1000 // t AS BIGINT) AS supp_permille
             |       FROM r CROSS JOIN tot),
             |ch AS (SELECT MIN(scheme) AS cs FROM r2 WHERE supp_permille <= 50)
             |SELECT CAST(scheme AS BIGINT) AS scheme, n_groups, supp_rows, supp_permille,
             |  (scheme = (SELECT cs FROM ch)) AS chosen
             |FROM r2 ORDER BY scheme""".stripMargin)),

    // ---- l-DIVERSITY audit, the companion k-anonymity cannot
    //      replace: a quasi-identifier group can be large (meets k)
    //      yet expose its members because the SENSITIVE attribute is
    //      uniform inside it. Per (lang, size-bucket) QI group:
    //      distinct sensitive values (source), l >= 2 verdict, and
    //      the dominant value's share in exact permille (the
    //      homogeneity-attack measure). One aggregation over the
    //      (QI, sensitive) counts — combinable, no window. ----
    Q("privacy_l_diversity",
      (s, dir) => Tables.t(s, dir, "documents")
        .groupBy(col("lang"), expr("n_chars div 200").as("size_bucket"),
          col("source"))
        .agg(count(lit(1)).as("c"))
        .groupBy("lang", "size_bucket")
        .agg(count(lit(1)).as("l_distinct"), sum("c").as("n"),
          max("c").as("max_c"))
        .withColumn("meets_l", col("l_distinct") >= 2)
        .withColumn("dominant_permille",
          expr("CAST(max_c * 1000 div n AS BIGINT)"))
        .select("lang", "size_bucket", "n", "l_distinct", "meets_l", "dominant_permille")
        .orderBy("lang", "size_bucket"),
      Some("""WITH c AS (SELECT lang, n_chars // 200 AS size_bucket, source, COUNT(*) AS c
             |        FROM documents GROUP BY 1, 2, 3)
             |SELECT lang, size_bucket, CAST(SUM(c) AS BIGINT) AS n,
             |  COUNT(*) AS l_distinct, (COUNT(*) >= 2) AS meets_l,
             |  CAST(MAX(c) * 1000 // CAST(SUM(c) AS BIGINT) AS BIGINT) AS dominant_permille
             |FROM c GROUP BY lang, size_bucket
             |ORDER BY lang, size_bucket""".stripMargin)),

    // ---- t-CLOSENESS audit, the third rung of the release-privacy
    //      ladder: a group can meet k AND carry >= l sensitive values
    //      yet still leak by SKEW — its sensitive distribution far
    //      from the corpus-wide one narrows an attacker's prior. Per
    //      QI group, the total-variation distance between the group's
    //      `source` distribution and the global one, in EXACT
    //      permille: TVD = Σ|n·N − nv·ng| · 1000 / (2·ng·N) keeps
    //      every term an exact integer cross-product on
    //      DECIMAL(38,0)/HUGEINT (no per-cell float division; the
    //      n·N products clear 2^63 past ~3e9 corpus rows). The cell frame is |QI groups| × |sensitive
    //      values| — metadata-sized whatever the corpus size, built
    //      from two broadcast-joined aggregate tables; absent cells
    //      COALESCE to 0 so missing values count their full mass.
    //      The fact-sized work is one combinable groupBy. ----
    Q("privacy_t_closeness",
      (s, dir) => {
        val gc = Tables.t(s, dir, "documents")
          .groupBy(col("lang"), expr("n_chars div 200").as("size_bucket"),
            col("source"))
          .agg(count(lit(1)).as("n"))
        val gt = gc.groupBy("lang", "size_bucket").agg(sum("n").as("ng"))
        val ov = gc.groupBy("source").agg(sum("n").as("nv"))
        val tot = gc.agg(sum("n").as("nt"))
        gt.crossJoin(broadcast(ov)).crossJoin(broadcast(tot))
          .join(gc, Seq("lang", "size_bucket", "source"), "left")
          .withColumn("nc", coalesce(col("n"), lit(0L)))
          .groupBy(col("lang"), col("size_bucket"), col("ng"), col("nt"))
          // the n·N cross-products (and the 2·ng·nt divisor) wrap 2^63 once
          // the corpus passes ~3e9 rows: every term rides DECIMAL(38,0)
          // (HUGEINT on the DuckDB side).
          .agg(sum(abs(col("nc").cast("decimal(38,0)") * col("nt")
            - col("nv").cast("decimal(38,0)") * col("ng"))).as("num"))
          .select(col("lang"), col("size_bucket"), col("ng").as("group_n"),
            expr("CAST(1000 * num div (2 * CAST(ng AS DECIMAL(38,0)) * nt) AS BIGINT)")
              .as("tvd_permille"),
            (expr("CAST(1000 * num div (2 * CAST(ng AS DECIMAL(38,0)) * nt) AS BIGINT)")
              <= 300L).as("meets_t"))
          .orderBy("lang", "size_bucket")
      },
      Some("""WITH gc AS (SELECT lang, n_chars // 200 AS size_bucket, source,
             |            CAST(COUNT(*) AS BIGINT) AS n
             |            FROM documents GROUP BY 1, 2, 3),
             |gt AS (SELECT lang, size_bucket, CAST(SUM(n) AS BIGINT) AS ng FROM gc GROUP BY 1, 2),
             |ov AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nv FROM gc GROUP BY 1),
             |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM gc),
             |cells AS (SELECT g.lang, g.size_bucket, o.source, COALESCE(gc.n, 0) AS n,
             |            g.ng, o.nv, t.nt
             |  FROM gt g CROSS JOIN ov o CROSS JOIN tot t
             |  LEFT JOIN gc ON gc.lang = g.lang AND gc.size_bucket = g.size_bucket
             |             AND gc.source = o.source)
             |SELECT lang, size_bucket, ng AS group_n,
             |  CAST((1000 * SUM(abs(CAST(n AS HUGEINT) * nt - CAST(nv AS HUGEINT) * ng)))
             |       // (2 * CAST(ng AS HUGEINT) * nt) AS BIGINT) AS tvd_permille,
             |  (CAST((1000 * SUM(abs(CAST(n AS HUGEINT) * nt - CAST(nv AS HUGEINT) * ng)))
             |       // (2 * CAST(ng AS HUGEINT) * nt) AS BIGINT) <= 300) AS meets_t
             |FROM cells GROUP BY lang, size_bucket, ng, nt
             |ORDER BY lang, size_bucket""".stripMargin)),

    // ---- PER-USER TEMPORAL SPLIT: each user's first 80% of events
    //      (by time) train, the tail 20% test — the backtest split
    //      sequence models need (a global time cut degenerates on
    //      cohort-aligned data: every user starts in week 0 here, so
    //      user-level assignment would put EVERYONE in train; the
    //      per-entity cut keeps both splits populated AND leaks no
    //      future events into a user's training prefix). rn·10 <=
    //      cnt·8 is the exact-integer form of rank <= 0.8n; the rank
    //      window partitions by user — high cardinality, scale-safe.
    //      Tie-broken by event_id so the boundary event is
    //      engine-deterministic. ----
    Q("sample_temporal_split",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val b = Tables.t(s, dir, "events")
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val n = Window.partitionBy("user_id")
        b.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("cnt", count(lit(1)).over(n))
          .withColumn("split",
            when(col("rn") * 10 <= col("cnt") * 8, lit("train")).otherwise(lit("test")))
          .groupBy("split")
          .agg(countDistinct("user_id").as("n_users"),
            count(lit(1)).as("n_events"))
          .orderBy("split")
      },
      Some("""WITH b AS (SELECT user_id, event_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
             |t AS (SELECT user_id,
             |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY user_id) AS cnt FROM b)
             |SELECT CASE WHEN rn * 10 <= cnt * 8 THEN 'train' ELSE 'test' END AS split,
             |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             |       CAST(COUNT(*) AS BIGINT) AS n_events
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- EMBEDDING-TABLE QUALITY REPORT: per-dimension moments of
    //      the embedding column — the drift/collapse check a vector
    //      pipeline runs before indexing (a dead dimension shows as
    //      sumsq ≈ 0, a scale blowout as an outlier sumsq). Values
    //      quantize to BIGINT micro-units; Σq is BIGINT, Σq² rides
    //      DECIMAL(38,0)/HUGEINT so the report is bit-exact at any
    //      corpus size, and is ferried as a STRING on the gate (the
    //      embed_pca_two_steps precedent — the driver's exact hasher
    //      rejects a raw DECIMAL(38,0) canonical form even when every
    //      cell matches). One posexplode + one combinable groupBy on
    //      the 64 dims. ----
    Q("embed_dim_moments",
      (s, dir) => {
        Tables.t(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .select((col("pos") + 1).cast("long").as("dim"),
            expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("q"))
          .groupBy("dim")
          .agg(count(lit(1)).as("n"),
            sum("q").as("sum_q"),
            sum((col("q").cast("decimal(20,0)") * col("q").cast("decimal(18,0)")))
              .cast("decimal(38,0)").cast("string").as("sumsq_q"))
          .orderBy("dim")
      },
      Some("""SELECT CAST(t.i AS BIGINT) AS dim,
             |  CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(CAST(round(CAST(t.x AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_q,
             |  CAST(CAST(SUM(CAST(round(CAST(t.x AS DOUBLE) * 1000000) AS HUGEINT) *
             |           CAST(round(CAST(t.x AS DOUBLE) * 1000000) AS HUGEINT)) AS DECIMAL(38,0)) AS VARCHAR) AS sumsq_q
             |FROM embeddings e, LATERAL (SELECT unnest(e.embedding) AS x,
             |                            generate_subscripts(e.embedding, 1) AS i) t
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- EMBEDDING-CENTROID DRIFT: cosine agreement between the
    //      mean vectors of two embedding eras (vec_id parity) — the
    //      VECTOR-valued drift monitor beside the scalar PSI/KL
    //      family: an upstream encoder swap or re-normalization
    //      shifts the centroid long before scalar stats move.
    //      Exactness: per-dim era sums of milli-quantized components
    //      are exact BIGINTs; cosine reports as its SQUARE in
    //      permille — (1000·dot²) div (‖a‖²·‖b‖²) — with dot's sign
    //      beside it, so no sqrt and no float division ever runs
    //      (products ride DECIMAL(38,0)/HUGEINT; dot² clears 2^63
    //      at this scale already). A degenerate all-zero era reads
    //      as a defined 0, not an engine-divergent divide-by-zero.
    //      Scale: one posexplode + a 64-row keyed aggregate (map-
    //      side combinable) + a one-row report — the monitor's cost
    //      is one pass over the vectors wherever they live. ----
    Q("embed_centroid_drift",
      (s, dir) => {
        val sums = Tables.t(s, dir, "embeddings")
          .select((col("vec_id") % 2 === 0).as("era_a"),
            posexplode(col("embedding")).as(Seq("d", "x")))
          .select(col("era_a"), col("d"),
            expr("CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)").as("v"))
          .groupBy("d").agg(
            sum(when(col("era_a"), col("v")).otherwise(0L)).as("sa"),
            sum(when(!col("era_a"), col("v")).otherwise(0L)).as("sb"))
        sums.agg(
            sum(col("sa") * col("sb")).as("dot"),
            sum(col("sa") * col("sa")).as("na2"),
            sum(col("sb") * col("sb")).as("nb2"))
          .select(col("dot"), col("na2"), col("nb2"),
            expr("CASE WHEN dot > 0 THEN '+' WHEN dot < 0 THEN '-' ELSE '0' END")
              .as("dot_sign"),
            expr("CAST(CASE WHEN na2 = 0 OR nb2 = 0 THEN 0 ELSE " +
              "(CAST(dot AS DECIMAL(38,0)) * dot * 1000) div " +
              "(CAST(na2 AS DECIMAL(38,0)) * nb2) END AS BIGINT)")
              .as("cos2_permille"))
      },
      Some("""WITH ex AS (SELECT e.vec_id % 2 = 0 AS era_a, t.i AS d,
             |    CAST(round(CAST(t.x AS DOUBLE) * 1000) AS BIGINT) AS v
             |  FROM embeddings e, LATERAL (SELECT unnest(e.embedding) AS x,
             |                              generate_subscripts(e.embedding, 1) AS i) t),
             |sums AS (SELECT d,
             |    CAST(SUM(CASE WHEN era_a THEN v ELSE 0 END) AS BIGINT) AS sa,
             |    CAST(SUM(CASE WHEN era_a THEN 0 ELSE v END) AS BIGINT) AS sb
             |  FROM ex GROUP BY 1),
             |agg AS (SELECT CAST(SUM(sa * sb) AS BIGINT) AS dot,
             |    CAST(SUM(sa * sa) AS BIGINT) AS na2,
             |    CAST(SUM(sb * sb) AS BIGINT) AS nb2 FROM sums)
             |SELECT dot, na2, nb2,
             |  CASE WHEN dot > 0 THEN '+' WHEN dot < 0 THEN '-' ELSE '0' END AS dot_sign,
             |  CAST(CASE WHEN na2 = 0 OR nb2 = 0 THEN 0 ELSE
             |    (dot::HUGEINT * dot * 1000) // (na2::HUGEINT * nb2) END AS BIGINT)
             |    AS cos2_permille
             |FROM agg""".stripMargin)),

    // ---- PII DENSITY MONITORING per source — the audit that runs
    //      BEFORE the scrub decides whether a source is ingestible
    //      at all (a crawl slice where half the docs carry emails is
    //      quarantined, not scrubbed). Deterministic PII is seeded
    //      into every 10th/5th doc (the corpus itself is synthetic-
    //      clean — the anonymize-gate discipline), counted with the
    //      SAME shared-regex-subset patterns the scrub applies
    //      (Java regex ≡ RE2 on this subset), and reported as per-
    //      source hit counts + affected-docs permille. Map-only
    //      regexp work; one enum-sized aggregate. ----
    Q("privacy_pii_density",
      (s, dir) => {
        val seeded = Tables.t(s, dir, "documents")
          .withColumn("t",
            when(col("doc_id") % 10 === 0,
              concat(col("text"), lit(" user"), col("doc_id"), lit("@example.com")))
            .when(col("doc_id") % 10 === 5,
              concat(col("text"), lit(" call 555-123-4567")))
            .otherwise(col("text")))
        val (em, ph, idn) = graft.operators.Privacy.piiCounts(col("t"))
        seeded.select(col("source"), em.cast("long").as("em"),
            ph.cast("long").as("ph"), idn.cast("long").as("idn"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("em").as("n_email"), sum("ph").as("n_phone"), sum("idn").as("n_idrun"),
            sum(when(col("em") + col("ph") + col("idn") > 0, 1L).otherwise(0L)).as("_hit"))
          .select(col("source"), col("n_docs"), col("n_email"), col("n_phone"),
            col("n_idrun"), expr("(1000 * _hit) div n_docs").as("affected_pm"))
          .orderBy("source")
      },
      Some("""WITH seeded AS (SELECT source,
             |    CASE WHEN doc_id % 10 = 0
             |           THEN text || ' user' || CAST(doc_id AS VARCHAR) || '@example.com'
             |         WHEN doc_id % 10 = 5 THEN text || ' call 555-123-4567'
             |         ELSE text END AS t FROM documents),
             |c AS (SELECT source,
             |    len(regexp_extract_all(t,
             |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS em,
             |    len(regexp_extract_all(regexp_replace(t,
             |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
             |        '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b')) AS ph,
             |    len(regexp_extract_all(regexp_replace(regexp_replace(t,
             |        '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '[EMAIL]', 'g'),
             |        '\b\d{3}[- ]\d{3,4}[- ]\d{4}\b', '[PHONE]', 'g'),
             |        '\b\d{6,}\b')) AS idn
             |  FROM seeded)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(em) AS BIGINT) AS n_email,
             |  CAST(SUM(ph) AS BIGINT) AS n_phone,
             |  CAST(SUM(idn) AS BIGINT) AS n_idrun,
             |  CAST((1000 * SUM(CASE WHEN em + ph + idn > 0 THEN 1 ELSE 0 END)) // COUNT(*)
             |    AS BIGINT) AS affected_pm
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- LENGTH-BALANCED BATCH ASSIGNMENT — the dataloader trick
    //      that cuts padding waste: sort the corpus by token length
    //      (two-phase segmentedRanks — sampled boundaries + within-
    //      bucket ranks, never a single-task global window) and cut
    //      consecutive 32-doc batches, so each batch pads to a max
    //      that is near its own lengths. The report states, per
    //      batch, the padding waste (n·max − Σlen) a naive arrival-
    //      order batcher would multiply several-fold. Deterministic:
    //      (len, doc_id) is a total order, so the assignment is
    //      restart-stable and rank-exact on the oracle. ----
    Q("sample_length_batches",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
          .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("len"))
          .withColumn("_g", lit(0))
        graft.operators.Ranking.segmentedRanks(d, "_g", Seq("len", "doc_id"))
          .withColumn("batch_id", expr("(rank - 1) div 32"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_docs"), max("len").as("max_len"),
            sum("len").as("sum_len"))
          .select(col("batch_id"), col("n_docs"), col("max_len"),
            (col("n_docs") * col("max_len") - col("sum_len")).as("pad_waste"))
          .orderBy("batch_id")
      },
      Some("""WITH d AS (SELECT doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
             |r AS (SELECT doc_id, len,
             |    ROW_NUMBER() OVER (ORDER BY len, doc_id) AS rank FROM d),
             |b AS (SELECT (rank - 1) // 32 AS batch_id, len FROM r)
             |SELECT CAST(batch_id AS BIGINT) AS batch_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(MAX(len) AS BIGINT) AS max_len,
             |  CAST(COUNT(*) * MAX(len) - SUM(len) AS BIGINT) AS pad_waste
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- PER-SOURCE EMBEDDING CENTROIDS in exact integer micro
    //      sums — the per-slice drift table a vector pipeline
    //      compares across crawls (a source whose centroid moves is
    //      re-embedded or quarantined). One doc-keyed join
    //      (embeddings ↔ documents metadata), one posexplode, one
    //      combinable (source, dim) groupBy; the centroid is the
    //      floor-mean of BIGINT micro sums, so both engines agree
    //      bit-exactly at any corpus size. ----
    Q("embed_source_centroids",
      (s, dir) => {
        Tables.t(s, dir, "embeddings")
          .join(Tables.t(s, dir, "documents").select(col("doc_id").as("vec_id"), col("source")),
            Seq("vec_id"))
          .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .select(col("source"), (col("pos") + 1).cast("long").as("dim"),
            expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("q"))
          .groupBy("source", "dim")
          .agg(count(lit(1)).as("n"), sum("q").as("sum_q"))
          .select(col("source"), col("dim"), col("n"),
            expr("sum_q div n").as("centroid_micro"))
          .orderBy("source", "dim")
      },
      Some("""WITH v AS (SELECT d.source, CAST(t.i AS BIGINT) AS dim,
             |    CAST(round(CAST(t.x AS DOUBLE) * 1000000) AS BIGINT) AS q
             |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id,
             |  LATERAL (SELECT unnest(e.embedding) AS x,
             |           generate_subscripts(e.embedding, 1) AS i) t)
             |SELECT source, dim, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(CAST(SUM(q) AS BIGINT) // COUNT(*) AS BIGINT) AS centroid_micro
             |FROM v GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- PER-DIMENSION 3-SIGMA OUTLIER CENSUS — the drift check
    //      layered on the moments report: count, per dim, the entries
    //      with |x − mean| > 3σ, DIVISION-FREE by integer
    //      cross-multiplication on the micro-quantized values
    //      (the CUSUM-anomaly discipline): (q·n − S)² > 9·(n·Q − S²)
    //      with S = Σq, Q = Σq² per dim — no float mean, no float
    //      variance, no sqrt, so both engines agree bit-exact. The
    //      cross-products ride DECIMAL(38,0)/HUGEINT (≤ ~2e30 at a
    //      1e9-row corpus — still 8 digits of headroom). Two passes:
    //      one combinable moments aggregate (64 rows, broadcast
    //      back), one outlier count over the same posexplode. ----
    Q("embed_dim_zscore_outliers",
      (s, dir) => {
        // two passes over the exploded values (moments, then census) —
        // deliberately NOT checkpointed: the explode is fact x 64, so a
        // materialization would be corpus-scaled where a second scan
        // is just another map-side pass (the bounded-size checkpoint
        // contract cuts the other way here)
        val vals = Tables.t(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("pos", "x")))
          .select((col("pos") + 1).cast("long").as("dim"),
            expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").as("q"))
        val mom = vals.groupBy("dim")
          .agg(count(lit(1)).as("n"), sum("q").as("s"),
            sum(col("q").cast("decimal(20,0)") * col("q").cast("decimal(18,0)"))
              .cast("decimal(38,0)").as("qq"))
        vals.join(broadcast(mom), Seq("dim"))
          .select(col("dim"), col("n"),
            expr("CASE WHEN (CAST(q AS DECIMAL(16,0)) * CAST(n AS DECIMAL(12,0)) - CAST(s AS DECIMAL(30,0)))" +
              " * (CAST(q AS DECIMAL(16,0)) * CAST(n AS DECIMAL(12,0)) - CAST(s AS DECIMAL(30,0)))" +
              " > CAST(9 AS DECIMAL(2,0)) * (CAST(n AS DECIMAL(12,0)) * qq - CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(18,0)))" +
              " THEN 1L ELSE 0L END").as("is_out"))
          .groupBy("dim", "n")
          .agg(sum("is_out").as("n_outliers"))
          .select("dim", "n", "n_outliers")
          .orderBy("dim")
      },
      Some("""WITH v AS (SELECT CAST(t.i AS BIGINT) AS dim,
             |    CAST(round(CAST(t.x AS DOUBLE) * 1000000) AS BIGINT) AS q
             |  FROM embeddings e, LATERAL (SELECT unnest(e.embedding) AS x,
             |      generate_subscripts(e.embedding, 1) AS i) t),
             |m AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(q) AS BIGINT) AS s,
             |    SUM(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS qq FROM v GROUP BY 1)
             |SELECT v.dim, m.n,
             |  CAST(SUM(CASE WHEN (CAST(v.q AS HUGEINT) * m.n - m.s)
             |                   * (CAST(v.q AS HUGEINT) * m.n - m.s)
             |       > 9 * (m.n * m.qq - CAST(m.s AS HUGEINT) * CAST(m.s AS HUGEINT))
             |       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM v JOIN m USING (dim)
             |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),

    // ---- INT8 SYMMETRIC QUANTIZATION QA — the compression every
    //      embedding store applies (4× smaller, ANN-shortlist-grade
    //      recall) audited per vector: scale = max|x|/127, q =
    //      round(x/scale) ∈ [-127, 127], and the reconstruction
    //      error |x − q·scale| bounded by half a step. Entirely
    //      in-row (transform/zip_with — no explode, map-only at
    //      corpus scale); every float lifts to DOUBLE first so both
    //      engines run the identical IEEE dag, and the verdict
    //      booleans use one shared epsilon literal. max_q == 127 by
    //      construction (the max element quantizes to ±127) — kept
    //      as an output because a clamp-bug would break exactly that
    //      invariant. ----
    Q("embed_quantize_int8",
      (s, dir) => {
        Tables.t(s, dir, "embeddings")
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
          .withColumn("scale", expr("array_max(transform(e, x -> abs(x))) / 127.0D"))
          .withColumn("q", expr("transform(e, x -> CAST(round(x / scale) AS BIGINT))"))
          .select(col("vec_id"),
            expr("array_max(transform(q, x -> abs(x)))").as("max_q"),
            expr("array_max(zip_with(e, q, (x, qq) -> abs(x - CAST(qq AS DOUBLE) * scale)))")
              .as("max_err"),
            expr("array_max(zip_with(e, q, (x, qq) -> abs(x - CAST(qq AS DOUBLE) * scale)))" +
              " <= scale * 0.5000001D").as("within_half_step"))
          .orderBy("vec_id")
      },
      Some("""WITH s AS (SELECT vec_id,
             |    CAST(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS DOUBLE)
             |      / 127.0 AS scale,
             |    embedding FROM embeddings),
             |qd AS (SELECT vec_id, scale,
             |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / scale) AS BIGINT)) AS q,
             |    embedding FROM s),
             |err AS (SELECT vec_id, scale,
             |    CAST(list_max(list_transform(generate_series(1, len(q)),
             |        i -> abs(CAST(embedding[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) * scale))) AS DOUBLE)
             |      AS max_err,
             |    CAST(list_max(list_transform(q, x -> abs(x))) AS BIGINT) AS max_q
             |  FROM qd)
             |SELECT vec_id, max_q, max_err,
             |  (max_err <= scale * 0.5000001) AS within_half_step
             |FROM err ORDER BY vec_id""".stripMargin)),

    // ---- DATALOADER SHARD ASSIGNMENT: the deterministic doc→worker
    //      map a distributed training job needs (every rank derives
    //      the SAME assignment with no coordination — restart-stable,
    //      unlike round-robin over an arbitrary scan order). Knuth
    //      multiplicative hash mod 2^32 then mod world size, all in
    //      BIGINT so both engines agree bit-for-bit; the report pins
    //      the balance (docs and token mass per shard). Shards are
    //      disjoint and exhaustive by construction — the count sum
    //      equals the corpus. ----
    Q("sample_shard_assignment",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(
          expr("((doc_id * 2654435761) % 4294967296) % 8").as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
        .orderBy("shard"),
      Some("""WITH h AS (SELECT ((doc_id * 2654435761) % 4294967296) % 8 AS shard,
             |    len(string_split(text, ' ')) AS n_tok FROM documents)
             |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
             |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- PER-GROUP RESERVOIR SAMPLE (deterministic): exactly k=3
    //      events per user chosen by Knuth-multiplicative-hash rank —
    //      the coordination-free fixed-k downsample a pipeline needs
    //      when "LIMIT per key" must be restart-stable and identical
    //      on every rank (a true random reservoir is order-dependent
    //      and un-oracle-able). The hash rank is uniform-ish per key,
    //      so the kept set is an unbiased-in-practice sample while
    //      staying a pure function of the data. One keyed window
    //      (partition = user — high-cardinality, no global sort);
    //      at 100 TB this is the same plan with more partitions. ----
    Q("sample_group_reservoir",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            expr("(event_id * 2654435761) % 4294967296").as("h"))
        val w = Window.partitionBy("user_id").orderBy("h", "event_id")
        e.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("user_id", "event_id")
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id FROM events
             |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
             |  ORDER BY (event_id * 2654435761) % 4294967296, event_id) <= 3
             |ORDER BY user_id, event_id""".stripMargin)),

    // ---- NORMALIZATION CHECK: histogram of squared L2 norms in
    //      exact micro-unit integers (a unit-normalized corpus piles
    //      up around 1e12; drift or an unnormalized batch shows as
    //      outlying buckets — caught BEFORE cosine math silently
    //      degrades to dot-product-of-arbitrary-scales). One
    //      higher-order aggregate() per row — no explode, no
    //      shuffle until the bucket count; sums stay far inside
    //      BIGINT (64 dims × (1.4e6)² ≈ 1.3e14). ----
    Q("embed_sqnorm_histogram",
      (s, dir) => {
        Tables.t(s, dir, "embeddings")
          .select(expr(
            "aggregate(embedding, 0L, (acc, x) -> acc + " +
              "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) * " +
              "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("sq"))
          .select(expr("sq div 100000").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      Some("""WITH n AS (SELECT CAST(list_sum(list_transform(embedding,
             |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS HUGEINT) *
             |           CAST(round(CAST(x AS DOUBLE) * 1000000) AS HUGEINT))) AS BIGINT) AS sq
             |  FROM embeddings)
             |SELECT CAST(sq // 100000 AS BIGINT) AS bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n
             |FROM n GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- PAIRWISE-SIMILARITY DISTRIBUTION on a deterministic probe
    //      subset (vec_id < 40): the histogram of dot products a
    //      retrieval pipeline inspects to pick thresholds (a corpus
    //      whose mass sits near 1.0 is near-duplicate-heavy; near
    //      0.0, unclusterable). Exact integer dots via one
    //      zip_with+aggregate per pair — both engines truncate the
    //      bucket division toward zero, negative dots included
    //      (probed, not assumed). The quadratic stays on the BOUNDED
    //      probe set; the corpus-scale versions of this question are
    //      the ANN/near-dup gates. ----
    Q("embed_pairwise_histogram",
      (s, dir) => {
        val p = Tables.t(s, dir, "embeddings")
          .filter(col("vec_id") < 40)
          .select(col("vec_id"), expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
            .as("q"))
        val a = p.select(col("vec_id").as("ia"), col("q").as("qa"))
        val b = p.select(col("vec_id").as("ib"), col("q").as("qb"))
        a.join(broadcast(b), col("ia") < col("ib"))
          .select(expr(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
            .as("dot"))
          .select(expr("dot div 100000000000L").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket")
      },
      Some("""WITH p AS (SELECT vec_id, list_transform(embedding,
             |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
             |    FROM embeddings WHERE vec_id < 40),
             |pairs AS (SELECT CAST(list_sum(list_transform(list_zip(a.q, b.q),
             |      t -> CAST(t[1] AS HUGEINT) * CAST(t[2] AS HUGEINT))) AS BIGINT) AS dot
             |  FROM p a JOIN p b ON a.vec_id < b.vec_id)
             |SELECT CAST(dot // 100000000000 AS BIGINT) AS bucket,
             |       CAST(COUNT(*) AS BIGINT) AS n
             |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- THRESHOLD SWEEP: candidate-pair counts at a ladder of
    //      similarity cutoffs over the probe subset — the tuning
    //      table that picks a near-dup threshold BEFORE running the
    //      corpus-scale join (each row answers "how many pairs would
    //      threshold t admit"). One pass over the exact integer dots
    //      crossed with a 5-row literal threshold frame; the
    //      comparison dot >= t·1e9 keeps permille thresholds in
    //      BIGINT. ----
    Q("sim_threshold_sweep",
      (s, dir) => {
        val p = Tables.t(s, dir, "embeddings")
          .filter(col("vec_id") < 60)
          .select(col("vec_id"), expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
            .as("q"))
        val a = p.select(col("vec_id").as("ia"), col("q").as("qa"))
        val b = p.select(col("vec_id").as("ib"), col("q").as("qb"))
        val dots = a.join(broadcast(b), col("ia") < col("ib"))
          .select(expr(
            "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
            .as("dot"))
        val ths = s.createDataFrame(
          java.util.Arrays.asList(Seq(-200L, -100L, 0L, 50L, 100L)
            .map(org.apache.spark.sql.Row(_)): _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("threshold_permille",
              org.apache.spark.sql.types.LongType))))
        dots.crossJoin(broadcast(ths))
          .groupBy("threshold_permille")
          .agg(count(when(col("dot") >= col("threshold_permille") * 1000000000L,
            lit(1))).as("n_pairs"))
          .orderBy("threshold_permille")
      },
      Some("""WITH p AS (SELECT vec_id, list_transform(embedding,
             |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
             |    FROM embeddings WHERE vec_id < 60),
             |pairs AS (SELECT CAST(list_sum(list_transform(list_zip(a.q, b.q),
             |      t -> CAST(t[1] AS HUGEINT) * CAST(t[2] AS HUGEINT))) AS BIGINT) AS dot
             |  FROM p a JOIN p b ON a.vec_id < b.vec_id)
             |SELECT CAST(t.th AS BIGINT) AS threshold_permille,
             |  CAST(COUNT(CASE WHEN dot >= CAST(t.th AS BIGINT) * 1000000000
             |             THEN 1 END) AS BIGINT) AS n_pairs
             |FROM pairs, (VALUES (-200), (-100), (0), (50), (100)) AS t(th)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- EPOCH FACTORS for a target domain mix: given each domain's
    //      natural size and a target share, the per-domain repeat
    //      factor (×1000) a training dataloader applies — the
    //      "epochs per dataset" table of the published LLM data
    //      recipes (factor > 1000 = upsample/repeat, < 1000 =
    //      subsample). Exact integers: factor_milli =
    //      (target_pm · T) div n_d off one domain-keyed count and a
    //      one-row broadcast total; the uniform-share target here is
    //      the config's stand-in (any target map joins in at domain
    //      size). Flags the repeat factor a curator audits — a 40×
    //      repeat of a tiny domain is a memorization risk, stated as
    //      a number. ----
    Q("sample_epoch_factors",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
        d.crossJoin(broadcast(d.agg(sum("n_docs").as("t"),
            count(lit(1)).as("nd"))))
          .select(col("source"), col("n_docs"),
            expr("1000 div nd").as("target_pm"),
            expr("((1000 div nd) * t) div n_docs").as("factor_milli"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
             |  FROM documents GROUP BY 1),
             |t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t,
             |             CAST(COUNT(*) AS BIGINT) AS nd FROM d)
             |SELECT source, n_docs,
             |  CAST(1000 // nd AS BIGINT) AS target_pm,
             |  CAST(((1000 // nd) * t.t) // n_docs AS BIGINT) AS factor_milli
             |FROM d CROSS JOIN t ORDER BY source""".stripMargin))
  )
}
