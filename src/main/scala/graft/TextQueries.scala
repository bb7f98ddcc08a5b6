package graft

import graft.operators.Checkpoints.Checkpointed
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Training-data-pipeline text operators over `documents`
 * (SURVEY.md §2.8): stats, quality scoring, language-ID heuristic,
 * token frequencies, exact + similarity dedup.
 *
 * Scale posture: everything is expression-level (codegen'd, partition-
 * parallel). The exact-Jaccard pair query shingles first (3-gram) so
 * the self-join key is high-cardinality — common single words would
 * make the join quadratic in document frequency. At 100 TB the
 * LSH/minhash path (graft.operators.Dedup) replaces the exact join;
 * the exact version here doubles as its correctness oracle.
 */
object TextQueries {

  /** Persisted inverted index: DISTINCT (token, doc_id) postings
    * written ONCE per corpus fingerprint, bucketed BY TOKEN — a
    * `token IN (...)` query then reads k/64 of the index via bucket
    * pruning (SelectedBucketsCount in the plan, PlanSpec-asserted)
    * instead of re-tokenizing the corpus per query. This is the
    * serving shape at 100 TB: index build is one corpus pass paid
    * once; every query after touches only its terms' buckets. Same
    * rebuild discipline as the bucketed join (the in-memory catalog
    * forgets tables across JVMs while the warehouse files survive). */
  def tokenPostingsTable(s: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val fp = Tables.fingerprint(s, s"$dir/documents.parquet")
    val db = s"graft_tix_$fp"
    val wh = s"${CacheDirs.root}/tixwh_$fp"
    if (!s.catalog.databaseExists(db))
      s.sql(s"CREATE DATABASE $db LOCATION '$wh'")
    if (!s.catalog.tableExists(s"$db.postings")) {
      val p = new org.apache.hadoop.fs.Path(s"$wh/postings")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("token"))
        .write.bucketBy(64, "token").sortBy("token")
        .saveAsTable(s"$db.postings")
    }
    s.table(s"$db.postings")
  }

  /** Persisted BM25 index: (token, doc_id, tf, norm_permille) bucketed
    * BY TOKEN, plus a one-row corpus-stats table — the ranked-retrieval
    * serving shape. Each posting DENORMALIZES its document's quantized
    * length norm (norm_permille = 1000·dl·D div L, i.e. dl/avgdl in
    * exact permille), so scoring a query touches ONLY the query terms'
    * buckets: no join back to a corpus-sized doc-length table, ever.
    * D (docs) and L (total tokens) are corpus constants paid once at
    * index build; the index rebuild discipline (fingerprint-keyed
    * warehouse) matches [[tokenPostingsTable]].
    *
    * STATUS (r18): demoted to the static==maintained PIN — only
    * `text_bm25_topk` still rides this table (its oracle is shared
    * verbatim with `text_bm25_incremental`, pinning the two index
    * families' rankings equal). Every production ranker — the RRF
    * fusion legs, Dirichlet LM, NDCG eval — serves from the
    * MAINTAINED [[bm25IncrementalTables]] / the batch-protocol
    * ingest state ([[bm25IngestTopK]]), because at 100 TB there is
    * exactly one index being maintained. */
  def bm25IndexTables(s: org.apache.spark.sql.SparkSession,
                      dir: String): (org.apache.spark.sql.DataFrame,
                                     org.apache.spark.sql.DataFrame) = {
    val fp = Tables.fingerprint(s, s"$dir/documents.parquet")
    val db = s"graft_bm25_$fp"
    val wh = s"${CacheDirs.root}/bm25wh_$fp"
    if (!s.catalog.databaseExists(db))
      s.sql(s"CREATE DATABASE $db LOCATION '$wh'")
    if (!s.catalog.tableExists(s"$db.postings")) {
      // the warehouse files survive across JVMs while the in-memory
      // catalog forgets the tables — clear BOTH stale locations
      Seq("postings", "stats").foreach { t =>
        val p = new org.apache.hadoop.fs.Path(s"$wh/$t")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      val docs = Tables.t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("w"))
        .withColumn("dl", size(col("w")).cast("long"))
      val stats = docs.agg(count(lit(1)).as("d"), sum("dl").as("l"))
      stats.write.mode("overwrite").saveAsTable(s"$db.stats")
      docs.crossJoin(broadcast(s.table(s"$db.stats")))
        .select(col("doc_id"), col("dl"), col("d"), col("l"),
          explode(col("w")).as("token"))
        .groupBy("token", "doc_id", "dl", "d", "l")
        .agg(count(lit(1)).as("tf"))
        .select(col("token"), col("doc_id"), col("tf"),
          expr("(1000 * dl * d) div l").as("norm_permille"))
        .write.bucketBy(64, "token").sortBy("token")
        .saveAsTable(s"$db.postings")
    }
    (s.table(s"$db.postings"), s.table(s"$db.stats"))
  }

  /** The batch-side posting extraction of the INCREMENTAL BM25 index:
    * (token, doc_id, tf, dl) — the document length rides RAW beside
    * each posting instead of the denormalized norm_permille
    * [[bm25IndexTables]] bakes in. That single change is what makes
    * the index maintainable: norm_permille = (1000·dl·D) div L
    * depends on the CORPUS totals, so any append would invalidate
    * every existing posting; raw dl is append-invariant and the norm
    * moves to query time off the maintained stats row. */
  def bm25RawPostings(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("dl", size(col("w")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(col("w")).as("token"))
      .groupBy("token", "doc_id", "dl").agg(count(lit(1)).as("tf"))

  /** One-row (d, l) corpus stats of a document set — the maintained
    * half of the incremental BM25 state. */
  def bm25StatsOf(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("d"), sum("dl").as("l"))

  /** INCREMENTALLY-MAINTAINED BM25 index (VERDICT r16 #3): the corpus
    * 6/7 builds the bucketed posting table + the one-row stats table;
    * the remaining 1/7 arrives as a fresh batch and is APPENDED — its
    * postings bucket-append into the same token-bucketed table (each
    * append writes its own bucket files; pruning still reads only the
    * query terms' buckets) and the stats row upserts to
    * (d + batch_docs, l + batch_tokens). NO existing posting is
    * rewritten: dl is stored raw ([[bm25RawPostings]]), so the
    * length norm — the one per-posting quantity that depends on
    * corpus totals — computes at query time from the CURRENT stats,
    * and df needs no maintenance at all (scoring derives it from the
    * bucket-pruned postings, exact after any append). Per-batch
    * maintenance cost: the batch's own posting extraction + a
    * metadata-sized stats upsert — never a corpus rescan
    * (SCALE bm25inc). */
  def bm25IncrementalTables(s: org.apache.spark.sql.SparkSession,
                            dir: String): (org.apache.spark.sql.DataFrame,
                                           org.apache.spark.sql.DataFrame) = {
    val fp = Tables.fingerprint(s, s"$dir/documents.parquet")
    val db = s"graft_bm25i_$fp"
    val wh = s"${CacheDirs.root}/bm25iwh_$fp"
    if (!s.catalog.databaseExists(db))
      s.sql(s"CREATE DATABASE $db LOCATION '$wh'")
    // the cache gates on a COMPLETION marker written LAST: gating on
    // the first artifact (postings) would make a crash between the
    // build's steps leave a permanently half-built index every later
    // JVM serves silently — the marker certifies build + append +
    // stats all landed, and a half-build re-enters and rebuilds clean
    if (!s.catalog.tableExists(s"$db.complete")) {
      import s.implicits._
      Seq("postings", "stats", "complete").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $db.$t")
        val p = new org.apache.hadoop.fs.Path(s"$wh/$t")
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      val docs = Tables.t(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      val batch = docs.filter(col("doc_id") % 7 === 0)
      // corpus build — paid once
      bm25RawPostings(corpus)
        .write.bucketBy(64, "token").sortBy("token")
        .saveAsTable(s"$db.postings")
      bm25StatsOf(corpus).write.saveAsTable(s"$db.stats")
      // daily append — batch-sized postings + a one-row stats upsert
      bm25AppendBatch(s, db, batch)
      Seq(Tuple1(1L)).toDF("ok").write.saveAsTable(s"$db.complete")
    }
    (s.table(s"$db.postings"), s.table(s"$db.stats"))
  }

  /** ONE day's append to an incremental BM25 index database — the
    * REPEATABLE maintenance call ([[bm25IncrementalTables]] runs it
    * once for the gate's fixture; a production ingest calls it per
    * arriving batch, forever): the batch's raw-dl postings
    * bucket-append into the token-bucketed table (each append writes
    * its own bucket files; pruning still reads only the query terms'
    * buckets) and the one-row stats upserts to (d + batch docs,
    * l + batch tokens). Batch-sized + a metadata-sized stats
    * read-modify-write; no existing posting is touched. Caller
    * contract: batch doc ids are fresh (the ingest convention) —
    * re-appending the same docs would double their postings, which
    * is the job layer's idempotence to enforce (the
    * INGEST-protocol's committed-batch skip). */
  def bm25AppendBatch(s: org.apache.spark.sql.SparkSession, db: String,
                      batch: org.apache.spark.sql.DataFrame): Unit = {
    bm25RawPostings(batch)
      .write.bucketBy(64, "token").sortBy("token")
      .mode("append").saveAsTable(s"$db.postings")
    val prev = s.table(s"$db.stats").collect()(0)
    val bs = bm25StatsOf(batch).collect()(0)
    import s.implicits._
    Seq((prev.getLong(0) + bs.getLong(0), prev.getLong(1) + bs.getLong(1)))
      .toDF("d", "l")
      .write.mode("overwrite").saveAsTable(s"$db.stats")
  }

  /** BM25 scoring over the incremental index's raw-dl postings: the
    * [[bm25IndexTables]] integer-exact formula with the length norm
    * computed AT QUERY TIME from the maintained stats row — bucket
    * pruning, query-term-local df, TakeOrdered top-k all unchanged. */
  def bm25ScoreTerms(postings: org.apache.spark.sql.DataFrame,
                     stats: org.apache.spark.sql.DataFrame,
                     terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    val hits = postings.filter(col("token").isin(terms: _*))
    val idf = hits.groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("token"),
        round(log(lit(2.0) * (col("d") + 1) / (col("df") * 2 + 1)) * 1000)
          .cast("long").as("idf_pm"),
        col("d"), col("l"))
    hits.join(broadcast(idf), Seq("token"))
      .select(col("doc_id"),
        expr("(idf_pm * 22000 * tf * 1000) div (10000 * tf + 3000 + 9 * ((1000 * dl * d) div l))")
          .as("contrib"))
      .groupBy("doc_id")
      .agg(sum("contrib").as("score_micro"))
      .orderBy(desc("score_micro"), col("doc_id"))
      .limit(k)
  }

  /** Rank-space RRF contribution of ONE candidate list (`doc_id`,
    * `scoreCol`): rank = 1 + |strictly better| via a broadcast
    * self-join over the ≤pool-sized frame (identical to ROW_NUMBER
    * over (score DESC, doc_id) — never an unpartitioned window),
    * emitted integer-exact as floor(1e9 / (60 + rank)). THE one home
    * for the RRF k=60 constant and the tie-break — shared by
    * `sim_rrf_fusion`, `sim_rrf_fusion3`, and `sim_rrf_quality`
    * (self-review r18: four copies of the formula had accumulated). */
  def rrfLeg(df: org.apache.spark.sql.DataFrame, scoreCol: String,
             out: String): org.apache.spark.sql.DataFrame = {
    val o = df.select(col("doc_id").as("_i2"), col(scoreCol).as("_s2"))
    df.join(broadcast(o),
        col("_s2") > col(scoreCol) ||
          (col("_s2") === col(scoreCol) && col("_i2") < col("doc_id")),
        "left")
      .groupBy("doc_id")
      .agg(expr("1000000000 div (61 + count(_i2))").as(out))
  }

  /** BM25 top-k served from an `INGEST_BM25_DESTINATION` state
    * directory (the batch-protocol index
    * [[graft.streaming.EventStreams.ingestBm25Batch]] maintains):
    * the query terms' bucket ids compute once through the engine's
    * own hash (a metadata-sized driver round-trip — the same function
    * the ingest used to place them, so the two always agree), the
    * postings read partition-prunes to those buckets inside every
    * committed batch partition, the corpus stats fold as one sum over
    * the per-batch (d, l) delta rows, and [[bm25ScoreTerms]] scores
    * with its query-time length norm — identical micros to the
    * warehouse index paths, whatever the batch count. */
  def bm25IngestTopK(s: org.apache.spark.sql.SparkSession, destDir: String,
                     terms: Seq[String], k: Int): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val nb = graft.streaming.EventStreams.Bm25IngestBuckets
    val buckets = terms.toDF("token")
      .select(pmod(hash(col("token")), lit(nb)).as("b"))
      .collect().map(_.getInt(0)).distinct.toSeq
    val postings = graft.streaming.EventStreams
      .batchStateRead(s, s"$destDir/postings")
      .filter(col("bucket").isin(buckets: _*) && col("token").isin(terms: _*))
      .drop("bucket")
    val stats = graft.streaming.EventStreams
      .batchStateRead(s, s"$destDir/stats")
      .agg(sum("d").as("d"), sum("l").as("l"))
    bm25ScoreTerms(postings, stats, terms, k)
  }

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")
  private val stopwordSql = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Exact all-pairs 3-gram-shingle Jaccard >= 7/10 — shared oracle for
    * both the exact query and the MinHash+LSH pipeline (whose verified
    * output equals it up to ~5e-4 LSH recall misses). */
  private val jaccardOracle =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_common, sa.n_sh AS na, sb.n_sh AS nb
      |FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE n_common * 10 >= (sa.n_sh + sb.n_sh - n_common) * 7
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared WITH RECURSIVE prefix: exact-Jaccard pairs -> symmetric
    * edges -> min-label transitive closure -> `cl(node, cluster_id)`.
    * Append a final SELECT to use. Terminates because UNION
    * deduplicates (node, lbl) rows and the label universe is finite. */
  private val clusterOracle =
    """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id,
      |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |           GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b
      |          FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |          WHERE n_common * 10 >= (sa.n_sh + sb.n_sh - n_common) * 7),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |          UNION SELECT doc_b, doc_a FROM pairs),
      |reach(node, lbl) AS (SELECT src, src FROM edges
      |                     UNION
      |                     SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
      |cl AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
      |""".stripMargin

  /** The text_bpe_train oracle: the k-round select->apply->recount
    * trainer UNROLLED as a CTE chain (DuckDB's recursive CTE cannot
    * aggregate over the recursion table to pick each round's max, so
    * the rounds are generated as s0 -> p1/m1/s1 -> ... — same
    * framed-replace encode and (n DESC, l, r) tie order as the Spark
    * loop). A round whose pair table is empty contributes no merge
    * row and leaves the state unchanged (the coalesce(chr(2)) pattern
    * can never match), mirroring the trainer's early stop. */
  /** The shared unrolled select->apply chain: CTEs vocab, s0, then
    * p$i/m$i/s$i per round — s$rounds is the vocabulary encoded under
    * the learned table, m1..m$rounds the table itself. */
  private def bpeTrainChain(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH vocab AS MATERIALIZED (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |s0 AS MATERIALIZED (
        |  SELECT w, freq, repeat(chr(1), 2) ||
        |    array_to_string([substring(w, CAST(i AS INTEGER), 1)
        |      FOR i IN range(1, length(w) + 1)], repeat(chr(1), 2)) ||
        |    repeat(chr(1), 2) AS s
        |  FROM vocab)""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(s""",
        |p$i AS MATERIALIZED (
        |  SELECT tk[CAST(j AS INTEGER)] AS l, tk[CAST(j AS INTEGER) + 1] AS r,
        |    CAST(SUM(freq) AS BIGINT) AS n
        |  FROM (SELECT freq, string_split(trim(replace(s, repeat(chr(1), 2), ' ')), ' ') AS tk
        |        FROM s${i - 1}) t,
        |  LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(j)
        |  GROUP BY 1, 2),
        |m$i AS MATERIALIZED (SELECT l, r, n FROM p$i ORDER BY n DESC, l, r LIMIT 1),
        |s$i AS MATERIALIZED (
        |  SELECT w, freq, replace(s,
        |    chr(1) || coalesce((SELECT l FROM m$i), chr(2)) || repeat(chr(1), 2) ||
        |      coalesce((SELECT r FROM m$i), chr(2)) || chr(1),
        |    chr(1) || coalesce((SELECT l FROM m$i), chr(2)) ||
        |      coalesce((SELECT r FROM m$i), chr(2)) || chr(1)) AS s
        |  FROM s${i - 1})""".stripMargin)
    }
    sb.toString
  }

  private def bpeTrainOracle(rounds: Int): String =
    bpeTrainChain(rounds) + "\n" +
      (1 to rounds).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rk, l AS left_tok, r AS right_tok, " +
          s"l || r AS merged, n FROM m$i")
        .mkString("\nUNION ALL ") +
      "\nORDER BY rk"

  /** The text_unigram_train oracle: Unigram.trainUnigram replayed —
    * seed (all chars + top-`seedMulti` substrings of length 2..4,
    * occurrence-weighted), then `rounds` E/M rounds, each a Viterbi
    * forward DP (recursive CTE over positions carrying the dp list),
    * a backtrace recursion (longest-piece tie-break, exact BIGINT
    * equality), freq-weighted piece counts, char-keep + top-`keepMulti`
    * multi prune, and the smoothed ln-micro re-score. The piece map
    * rides DuckDB's MAP (DISTINCT keys by construction); missing
    * pieces coalesce to the same −1e12-micros floor as the Spark DP.
    */
  private val unigramNeg = "-1000000000000"
  private val unigramInv = "-9000000000000000"

  // missing single char -> Neg floor (UNK-per-char); missing
  // multi-char piece -> Invalid (not a candidate) — the Spark
  // viterbiDp convention, verbatim
  private def unigramLook(m: String, w: String, start: String, len: Int) =
    s"coalesce(map_extract($m, substring($w, $start, $len))[1], ${if (len == 1) unigramNeg else unigramInv})"

  /** One Viterbi dp+backtrace CTE pair (dp$label/bt$label) under the
    * piece map CTE `mapName` — shared by the training rounds and the
    * train->apply tail. */
  private def unigramDpBt(label: String, mapName: String): String = {
    val inv = unigramInv
    def look(w: String, start: String, len: Int) = unigramLook("mm.m", w, start, len)
    val kSel =
      s"""CASE WHEN b.pos >= 4 AND b.dp[b.pos + 1] = b.dp[b.pos - 3] + ${look("b.w", "b.pos - 3", 4)} THEN 4
         |         WHEN b.pos >= 3 AND b.dp[b.pos + 1] = b.dp[b.pos - 2] + ${look("b.w", "b.pos - 2", 3)} THEN 3
         |         WHEN b.pos >= 2 AND b.dp[b.pos + 1] = b.dp[b.pos - 1] + ${look("b.w", "b.pos - 1", 2)} THEN 2
         |         ELSE 1 END""".stripMargin
    s"""dp$label(w, freq, i, dp) AS (
       |  SELECT w, freq, 0, [CAST(0 AS BIGINT)] FROM vocab
       |  UNION ALL
       |  SELECT d.w, d.freq, d.i + 1, list_append(d.dp, greatest(
       |    CASE WHEN d.i + 1 >= 1 THEN d.dp[d.i + 1] + ${look("d.w", "d.i + 1", 1).replace("mm.m", s"$mapName.m")} ELSE $inv END,
       |    CASE WHEN d.i + 1 >= 2 THEN d.dp[d.i] + ${look("d.w", "d.i", 2).replace("mm.m", s"$mapName.m")} ELSE $inv END,
       |    CASE WHEN d.i + 1 >= 3 THEN d.dp[d.i - 1] + ${look("d.w", "d.i - 1", 3).replace("mm.m", s"$mapName.m")} ELSE $inv END,
       |    CASE WHEN d.i + 1 >= 4 THEN d.dp[d.i - 2] + ${look("d.w", "d.i - 2", 4).replace("mm.m", s"$mapName.m")} ELSE $inv END))
       |  FROM dp$label d, $mapName WHERE d.i < length(d.w)),
       |bt$label(w, freq, dp, pos, ps) AS (
       |  SELECT w, freq, dp, length(w), CAST([] AS VARCHAR[])
       |  FROM dp$label WHERE i = length(w)
       |  UNION ALL
       |  SELECT b.w, b.freq, b.dp,
       |    b.pos - ($kSel),
       |    list_append(b.ps, substring(b.w, b.pos - ($kSel) + 1, ($kSel)))
       |  FROM bt$label b, $mapName mm WHERE b.pos > 0)""".stripMargin
  }

  /** The WITH clause through the trained map m$rounds (no final
    * SELECT) — shared by the train gate and the train->apply gate. */
  private def unigramChain(rounds: Int, seedMulti: Int, keepMulti: Int): String = {
    def mapCte(r: Int) =
      s"m$r AS MATERIALIZED (SELECT map(list(piece ORDER BY piece), list(score ORDER BY piece)) AS m FROM s$r)"
    def scoreCte(r: Int) =
      s"""s$r AS MATERIALIZED (
         |  SELECT piece, cnt,
         |    CAST(round(ln(CAST(cnt + 1 AS DOUBLE) / CAST(t.tot + t.np AS DOUBLE)) * 1000000) AS BIGINT) AS score
         |  FROM p$r, (SELECT CAST(SUM(cnt) AS BIGINT) AS tot, COUNT(*) AS np FROM p$r) t)""".stripMargin
    val sb = new StringBuilder
    sb.append(
      s"""WITH RECURSIVE
         |vocab AS MATERIALIZED (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
         |  WHERE length(w) BETWEEN 2 AND ${graft.functions.Unigram.MaxWordLen} GROUP BY w),
         |subs AS MATERIALIZED (
         |  SELECT substring(w, CAST(i AS INTEGER), CAST(l AS INTEGER)) AS piece,
         |         CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM vocab,
         |       LATERAL unnest(generate_series(1, length(w))) AS t(i),
         |       LATERAL unnest(generate_series(1, least(${graft.functions.Unigram.MaxPiece}, length(w) - CAST(i AS INTEGER) + 1))) AS u(l)
         |  GROUP BY 1),
         |p0 AS MATERIALIZED (
         |  SELECT piece, cnt FROM subs WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (SELECT piece, cnt FROM subs WHERE length(piece) >= 2
         |                          ORDER BY cnt DESC, piece LIMIT $seedMulti)),
         |${scoreCte(0)},
         |${mapCte(0)}""".stripMargin)
    for (r <- 1 to rounds) {
      val prev = r - 1
      sb.append(s""",
         |${unigramDpBt(r.toString, s"m$prev")},
         |c$r AS MATERIALIZED (
         |  SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(ps) AS piece FROM bt$r WHERE pos = 0) GROUP BY 1),
         |p$r AS MATERIALIZED (
         |  SELECT s.piece, COALESCE(c.cnt, 0) AS cnt
         |  FROM s$prev s LEFT JOIN c$r c USING (piece) WHERE length(s.piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (SELECT piece, cnt FROM c$r WHERE length(piece) >= 2
         |                          ORDER BY cnt DESC, piece LIMIT $keepMulti)),
         |${scoreCte(r)},
         |${mapCte(r)}""".stripMargin)
    }
    sb.toString
  }

  private def unigramOracle(rounds: Int, seedMulti: Int, keepMulti: Int): String =
    unigramChain(rounds, seedMulti, keepMulti) +
      s"""
         |SELECT piece, cnt, score AS score_micros FROM s$rounds
         |ORDER BY cnt DESC, piece""".stripMargin

  /** train -> APPLY: one more dp/bt pass under the TRAINED map, the
    * vocabulary rendered as its Viterbi segmentation (backtrace
    * appends pieces end-first, so reading order is the list
    * reversed). */
  private def unigramApplyOracle(rounds: Int, seedMulti: Int, keepMulti: Int): String =
    unigramChain(rounds, seedMulti, keepMulti) +
      s""",
         |${unigramDpBt("A", s"m$rounds")}
         |SELECT w, freq, CAST(len(ps) AS BIGINT) AS n_pieces,
         |  array_to_string(list_reverse(ps), ' ') AS encoded
         |FROM btA WHERE pos = 0
         |ORDER BY freq DESC, w LIMIT 500""".stripMargin

  private def bpeTrainApplyOracle(rounds: Int): String =
    bpeTrainChain(rounds) +
      s"""
         |SELECT w, freq,
         |  CAST((length(s) - length(replace(s, chr(1), ''))) // 2 - 1 AS BIGINT) AS n_tokens,
         |  trim(replace(s, repeat(chr(1), 2), ' ')) AS encoded
         |FROM s$rounds ORDER BY freq DESC, w LIMIT 500""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- corpus stats by language/source ----
    Q("text_stats",
      (s, dir) => Tables.t(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")).cast(LongType))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("n_tokens").as("sum_tokens"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang", "source"),
      Some("""SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             |CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
             |min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin)),

    // ---- n-gram repetition ratio (training-data quality signal:
    //      boilerplate/spam shows as one trigram dominating the doc).
    //      Trigram MULTIPLICITY matters here, so no distinct — the
    //      short-doc guard mirrors Dedup.shingleArrayExpr. Computed
    //      ENTIRELY IN-ROW: the statistic is per-document, so the
    //      max multiplicity is the longest equal-run of the doc's
    //      SORTED trigram array (one sort_array + one higher-order
    //      aggregate with a (run, best) struct accumulator — the
    //      Hilbert-tier idiom), and the count phase needs NO shuffle
    //      at all. The former corpus-token explode + two gram-keyed
    //      groupBys moved every trigram of every document through
    //      two exchanges — this was the top bench row (6.8 s); the
    //      map-side form is the plan a 100 TB corpus needs. ----
    Q("text_repetition",
      (s, dir) => Tables.t(s, dir, "documents")
        .withColumn("_w", split(col("text"), " "))
        .filter(size(col("_w")) >= 3)
        .withColumn("_tri", expr(
          "sort_array(transform(sequence(1, size(_w) - 2), " +
            "i -> concat_ws(' ', element_at(_w, i), element_at(_w, i + 1), element_at(_w, i + 2))))"))
        .select(col("doc_id"),
          size(col("_tri")).cast(LongType).as("n_trigrams"),
          expr("CASE WHEN size(_tri) = 1 THEN CAST(1 AS BIGINT) ELSE " +
            "aggregate(sequence(2, size(_tri)), named_struct('run', 1, 'best', 1), " +
            "(acc, i) -> IF(element_at(_tri, i) = element_at(_tri, i - 1), " +
            "named_struct('run', acc.run + 1, 'best', greatest(acc.best, acc.run + 1)), " +
            "named_struct('run', 1, 'best', acc.best)), " +
            "acc -> CAST(acc.best AS BIGINT)) END").as("max_repeat"))
        .withColumn("rep_ratio",
          col("max_repeat").cast(DoubleType) / col("n_trigrams").cast(DoubleType))
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |tri AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
             |        FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
             |cnt AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2)
             |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams,
             |CAST(MAX(c) AS BIGINT) AS max_repeat,
             |CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_ratio
             |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- adaptive per-group quality gate: drop each language's
    //      bottom decile by score instead of one global cutoff (what
    //      corpus pipelines actually do — absolute thresholds starve
    //      low-resource languages). Composes the segmented two-phase
    //      rank, so the low-cardinality `lang` partition key is NOT a
    //      3-task bottleneck at scale; the oracle is the plain
    //      single-window PERCENT_RANK form. ----
    Q("quality_decile_filter",
      (s, dir) => {
        val scored = Tables.t(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            length(col("text")).cast(LongType).as("q_score"))
        graft.operators.Ranking
          .segmentedRanks(scored, "lang", Seq("q_score", "doc_id"), buckets = 16)
          .filter(col("percent_rank") >= 0.1)
          .select(col("doc_id"), col("lang"), col("q_score"),
            col("percent_rank").as("prk"))
          .orderBy("doc_id")
      },
      Some("""WITH s AS (SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS q_score
             |          FROM documents),
             |r AS (SELECT doc_id, lang, q_score,
             |        PERCENT_RANK() OVER (PARTITION BY lang ORDER BY q_score, doc_id) AS prk
             |      FROM s)
             |SELECT doc_id, lang, q_score, prk FROM r
             |WHERE prk >= 0.1 ORDER BY doc_id""".stripMargin)),

    // ---- corpus length histogram: token-count distribution in
    //      10-token buckets — the shape report every ingest run emits.
    //      Pure partial-aggregated groupBy: the shuffle carries one
    //      row per bucket per task. ----
    Q("token_histogram",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(size(split(col("text"), " ")).cast(LongType).as("n_tokens"))
        .groupBy(expr("n_tokens div 10").as("bucket_10"))
        .agg(count(lit(1)).as("n_docs"),
          min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"))
        .orderBy("bucket_10"),
      Some("""WITH t AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |          FROM documents)
             |SELECT n_tokens // 10 AS bucket_10, COUNT(*) AS n_docs,
             |MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- per-document quality score (length / stopword-ratio style) ----
    Q("text_quality",
      (s, dir) => Tables.t(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_tokens", size(col("toks")).cast(LongType))
        .withColumn("n_stop",
          size(filter(col("toks"), t => t.isin(stopwords: _*))).cast(LongType))
        .select(col("doc_id"), col("n_tokens"), col("n_stop"),
          length(col("text")).cast(LongType).as("n_chars_m"),
          // integer floor-division in BOTH engines (`div` here, `//` in
          // DuckDB) — plain `/` is float division whose rounding differs
          expr("n_stop * 100 div n_tokens").cast(LongType).as("stop_pct"),
          (length(col("text")).cast(DoubleType) / col("n_tokens").cast(DoubleType)).as("avg_token_len"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |len(string_split(text, ' ')) AS n_tokens,
              |len(list_filter(string_split(text, ' '), t -> t IN $stopwordSql)) AS n_stop,
              |length(text) AS n_chars_m,
              |CAST(len(list_filter(string_split(text, ' '), t -> t IN $stopwordSql)) * 100
              |  // len(string_split(text, ' ')) AS BIGINT) AS stop_pct,
              |CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- language-ID heuristic (stopword evidence; `lang` kept for
    //      comparison — the corpus text is synthetic English word-soup) ----
    Q("lang_id_heuristic",
      (s, dir) => Tables.t(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("n_stop_en", size(filter(col("toks"), t => t.isin(stopwords: _*))))
        .select(col("doc_id"), col("lang"),
          when(col("n_stop_en") * 20 >= size(col("toks")), lit("en"))
            .otherwise(lit("unknown")).as("predicted_lang"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang,
              |CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN $stopwordSql)) * 20
              |          >= len(string_split(text, ' '))
              |     THEN 'en' ELSE 'unknown' END AS predicted_lang
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- classifier EVALUATION: the confusion matrix + per-class
    //      precision/recall (exact permille) of the lang-id heuristic
    //      against the labeled corpus — the eval report every
    //      filtering classifier owes before it gates data. One
    //      aggregation for the matrix; precision/recall divide
    //      integer counts by integral division. ----
    Q("text_langid_eval",
      (s, dir) => {
        val pred = Tables.t(s, dir, "documents")
          .withColumn("toks", split(col("text"), " "))
          .withColumn("n_stop_en", size(filter(col("toks"), t => t.isin(stopwords: _*))))
          .select(col("lang"),
            when(col("n_stop_en") * 20 >= size(col("toks")), lit("en"))
              .otherwise(lit("unknown")).as("predicted"))
        val m = pred.groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        val byPred = m.groupBy("predicted").agg(sum("n").as("n_pred"))
        val byTrue = m.groupBy("lang").agg(sum("n").as("n_true"))
        m.join(byPred, "predicted").join(byTrue, "lang")
          .withColumn("precision_permille",
            expr("CAST(n * 1000 div n_pred AS BIGINT)"))
          .withColumn("recall_permille",
            expr("CAST(n * 1000 div n_true AS BIGINT)"))
          .select("lang", "predicted", "n", "precision_permille", "recall_permille")
          .orderBy("lang", "predicted")
      },
      Some(s"""WITH pred AS (SELECT lang,
              |  CASE WHEN len(list_filter(string_split(text, ' '), t -> t IN $stopwordSql)) * 20
              |            >= len(string_split(text, ' '))
              |       THEN 'en' ELSE 'unknown' END AS predicted
              |  FROM documents),
              |m AS (SELECT lang, predicted, COUNT(*) AS n FROM pred GROUP BY 1, 2),
              |bp AS (SELECT predicted, CAST(SUM(n) AS BIGINT) AS n_pred FROM m GROUP BY 1),
              |bt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM m GROUP BY 1)
              |SELECT lang, predicted, n,
              |  CAST(n * 1000 // n_pred AS BIGINT) AS precision_permille,
              |  CAST(n * 1000 // n_true AS BIGINT) AS recall_permille
              |FROM m JOIN bp USING (predicted) JOIN bt USING (lang)
              |ORDER BY lang, predicted""".stripMargin)),

    // ---- global token frequency (explode -> count) ----
    Q("token_topk",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("token"))
        .limit(20),
      Some("""SELECT token, COUNT(*) AS n FROM
             |(SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin)),

    // ---- BPE-ish tokenization: regex token classes (letter runs,
    //      digit runs, single punctuation) — the cheap proxy for
    //      subword token counting in data-pipeline budgeting ----
    Q("token_count_bpe",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
            .as("n_bpe_tokens"),
          size(split(col("text"), " ")).as("n_ws_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens,
             |CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- bigram frequency per language (n-gram analysis) ----
    Q("text_bigram_topk",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents").withColumn("w", split(col("text"), " "))
        docs.select(col("lang"),
            // short-doc guard: sequence(1, 0) is DESCENDING [1,0] and
            // element_at would throw under ANSI (see Dedup.shingleArrayExpr)
            explode(expr(
              "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1)," +
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1))) " +
                "ELSE array() END")).as("bigram"))
          .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("lang")
              .orderBy(desc("n"), asc("bigram"))))
          .filter(col("rk") <= 5)
          .select("lang", "bigram", "n", "rk")
          .orderBy("lang", "rk")
      },
      Some("""WITH b AS (
             |  SELECT lang, w[i] || ' ' || w[i+1] AS bigram
             |  FROM (SELECT lang, w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
             |        FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))),
             |c AS (SELECT lang, bigram, COUNT(*) AS n FROM b GROUP BY 1, 2)
             |SELECT lang, bigram, n, rk FROM (
             |  SELECT lang, bigram, n,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS INTEGER) AS rk
             |  FROM c) WHERE rk <= 5
             |ORDER BY lang, rk""".stripMargin)),

    // ---- VOCABULARY GROWTH curve (Heaps-law empirics): new and
    //      cumulative distinct tokens per corpus decile, ingesting
    //      docs in doc_id order — the curve that says whether more
    //      data still buys vocabulary. Decile of a token = decile of
    //      its FIRST document (one min-per-token pass); doc deciles
    //      come from the doc_id rank so the cut is exact whatever
    //      the id distribution; the cumulative sum is a 10-row
    //      window. ----
    Q("text_vocab_growth",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        // the doc rank comes from the TWO-PHASE distributed rank
        // (monotone id-band buckets + broadcast prefix offsets +
        // per-bucket local windows) — a global row_number window
        // would single-partition the whole doc list at 100 TB
        val n = docs.count() // one scalar — metadata, like centroids
        val ranked = graft.operators.Sampling
          .deterministicShuffle(docs.select("doc_id"), "doc_id",
            bucketExpr = Some(expr("doc_id div 64")))
          .withColumn("decile", expr(s"CAST(shuffle_pos * 10 div ${n}L AS INT) + 1"))
        val firstDoc = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(min("doc_id").as("first_doc"))
        firstDoc.join(ranked.select(col("doc_id").as("first_doc"), col("decile")), "first_doc")
          .groupBy("decile").agg(count(lit(1)).as("new_tokens"))
          // 10-row metadata window; the pmod key states the single
          // partition without the foldable-literal strip-back
          .withColumn("cum_vocab", sum("new_tokens").over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(pmod(col("decile"), lit(1))).orderBy("decile")
              .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow)))
          .orderBy("decile")
      },
      Some("""WITH r AS (SELECT doc_id,
             |    ROW_NUMBER() OVER (ORDER BY doc_id) AS dr,
             |    COUNT(*) OVER () AS n FROM documents),
             |rd AS (SELECT doc_id, CAST((dr - 1) * 10 // n AS INTEGER) + 1 AS decile FROM r),
             |fd AS (SELECT tok, MIN(doc_id) AS first_doc FROM (
             |         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
             |       GROUP BY tok),
             |nt AS (SELECT decile, COUNT(*) AS new_tokens
             |       FROM fd JOIN rd ON rd.doc_id = fd.first_doc GROUP BY decile)
             |SELECT decile, new_tokens,
             |  CAST(SUM(new_tokens) OVER (ORDER BY decile
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
             |FROM nt ORDER BY decile""".stripMargin)),

    // ---- n-gram NOVELTY per document: the fraction (permille) of a
    //      doc's distinct 3-gram shingles that no lower-id document
    //      contains — the curation signal for incremental corpus
    //      growth ("how much genuinely new text does this doc add?").
    //      First-introduction is min(doc_id) per shingle — one
    //      shingle-keyed aggregation — joined back to the doc's own
    //      shingles; no pairwise comparison anywhere. Docs with no
    //      shingles (< 3 tokens) are absent, matching the oracle. ----
    Q("text_ngram_novelty",
      (s, dir) => {
        val sh = graft.operators.Dedup
          .shingles(Tables.t(s, dir, "documents"), "doc_id", "text")
        val first = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
        sh.join(first, "shingle")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_sh"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty_permille",
            expr("CAST(n_novel * 1000 div n_sh AS BIGINT)"))
          .select("doc_id", "n_sh", "n_novel", "novelty_permille")
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
             |first AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
             |SELECT doc_id, COUNT(*) AS n_sh,
             |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |  CAST(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) * 1000
             |       // COUNT(*) AS BIGINT) AS novelty_permille
             |FROM sh JOIN first USING (shingle)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- RAKE keyphrase extraction (Rose et al. 2010, public,
    //      re-derived): candidate phrases are maximal stopword-free
    //      token runs (segmented by GAPS-AND-ISLANDS over the token
    //      stream — pure window arithmetic, no regex splitting to
    //      drift cross-engine); each word scores deg/freq where
    //      deg(w) = Σ length of phrases containing w and freq(w) =
    //      w's occurrences in phrases; a phrase scores the sum of
    //      its words' scores. Scores stay integral:
    //      score_millis = Σ_w (deg(w)·1000 div freq(w)), summed
    //      with multiplicity exactly as RAKE defines. Corpus-level
    //      top-20 (phrase support aggregated first). ----
    Q("text_keyphrases_rake",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")
        val toks = Tables.t(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
          .withColumn("is_stop", col("tok").isin(stopwords: _*))
          .withColumn("boundary",
            when(col("is_stop") ||
              lag("is_stop", 1, true).over(w), 1L).otherwise(0L))
          .withColumn("phrase_id", sum("boundary").over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
              .orderBy("pos").rowsBetween(
                org.apache.spark.sql.expressions.Window.unboundedPreceding,
                org.apache.spark.sql.expressions.Window.currentRow)))
          .filter(!col("is_stop"))
        val phrases = toks.groupBy("doc_id", "phrase_id")
          .agg(array_join(transform(array_sort(collect_list(
              struct(col("pos"), col("tok")))), x => x.getField("tok")), " ").as("phrase"),
            count(lit(1)).as("plen"))
        val wordStats = toks.join(
            phrases.select(col("doc_id"), col("phrase_id"), col("plen")),
            Seq("doc_id", "phrase_id"))
          .groupBy("tok")
          .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
          .withColumn("wscore_millis", expr("CAST(deg * 1000 div freq AS BIGINT)"))
        val phraseScores = toks
          .join(phrases.select("doc_id", "phrase_id", "phrase"), Seq("doc_id", "phrase_id"))
          .join(wordStats.select("tok", "wscore_millis"), "tok")
          .groupBy(col("doc_id"), col("phrase_id"), col("phrase"))
          .agg(sum("wscore_millis").as("score_millis"))
        phraseScores.groupBy("phrase")
          .agg(count(lit(1)).as("support"), max("score_millis").as("score_millis"))
          .orderBy(desc("score_millis"), desc("support"), asc("phrase"))
          .limit(20)
      },
      Some(s"""WITH toks0 AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i] AS tok
              |      FROM (SELECT doc_id, string_split(text, ' ') AS w,
              |              unnest(generate_series(1, len(w))) AS i FROM documents)),
              |f AS (SELECT doc_id, pos, tok, (tok IN $stopwordSql) AS is_stop,
              |        CASE WHEN (tok IN $stopwordSql)
              |             OR COALESCE(LAG(tok IN $stopwordSql) OVER (PARTITION BY doc_id ORDER BY pos), TRUE)
              |             THEN 1 ELSE 0 END AS boundary
              |      FROM toks0),
              |t AS (SELECT doc_id, pos, tok,
              |        SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
              |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phrase_id
              |      FROM f WHERE NOT is_stop),
              |ph AS (SELECT doc_id, phrase_id,
              |         string_agg(tok, ' ' ORDER BY pos) AS phrase, COUNT(*) AS plen
              |       FROM t GROUP BY 1, 2),
              |ws AS (SELECT tok, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS deg,
              |         CAST(CAST(SUM(plen) AS BIGINT) * 1000 // COUNT(*) AS BIGINT) AS wscore_millis
              |       FROM t JOIN ph USING (doc_id, phrase_id) GROUP BY tok),
              |ps AS (SELECT t.doc_id, t.phrase_id, ph.phrase,
              |         CAST(SUM(ws.wscore_millis) AS BIGINT) AS score_millis
              |       FROM t JOIN ph USING (doc_id, phrase_id) JOIN ws USING (tok)
              |       GROUP BY 1, 2, 3)
              |SELECT phrase, COUNT(*) AS support,
              |  CAST(MAX(score_millis) AS BIGINT) AS score_millis
              |FROM ps GROUP BY phrase
              |ORDER BY score_millis DESC, support DESC, phrase LIMIT 20""".stripMargin)),

    // ---- collocation mining by LIFT: bigrams whose observed count
    //      exceeds the unigram-independence expectation — the
    //      association statistic behind multi-word-expression
    //      extraction (PMI's ratio without the log, so it stays in
    //      EXACT integer arithmetic: lift_permille =
    //      (c_xy·Nu·Nu·1000) intdiv (c_x·c_y·Nb), computed in
    //      DECIMAL(38,0)/HUGEINT — the numerator overflows BIGINT at
    //      corpus scale, and a float log would order differently per
    //      engine at ties). Min-support c_xy >= 5 keeps the
    //      hapax-pair noise out. Scale shape: two token-keyed
    //      aggregations + two vocab-sized equi-joins; totals are two
    //      scalar aggregates broadcast into the plan. ----
    Q("text_collocations_lift",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents").withColumn("w", split(col("text"), " "))
        val uni = docs.select(explode(col("w")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("c"))
        val bi = docs.select(explode(expr(
            "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1)," +
              " i -> struct(element_at(w, i) AS x, element_at(w, i + 1) AS y)) " +
              "ELSE array() END")).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("cxy"))
        val totals = uni.agg(sum("c").as("nu"))
          .crossJoin(broadcast(bi.agg(sum("cxy").as("nb"))))
        bi.filter(col("cxy") >= 5)
          .join(uni.select(col("tok").as("x"), col("c").as("cx")), "x")
          .join(uni.select(col("tok").as("y"), col("c").as("cy")), "y")
          .crossJoin(broadcast(totals))
          .withColumn("lift_permille", expr(
            "CAST((CAST(cxy AS DECIMAL(38,0)) * nu * nu * 1000) div " +
              "(CAST(cx AS DECIMAL(38,0)) * cy * nb) AS BIGINT)"))
          .select("x", "y", "cxy", "lift_permille")
          .orderBy(desc("lift_permille"), asc("x"), asc("y"))
          .limit(20)
      },
      Some("""WITH docs AS (SELECT string_split(text, ' ') AS w FROM documents),
             |uni AS (SELECT tok, COUNT(*) AS c
             |        FROM (SELECT unnest(w) AS tok FROM docs) GROUP BY 1),
             |bi AS (SELECT x, y, COUNT(*) AS cxy FROM (
             |         SELECT w[i] AS x, w[i+1] AS y
             |         FROM (SELECT w, unnest(generate_series(1, greatest(len(w) - 1, 0))) AS i
             |               FROM docs))
             |       GROUP BY 1, 2),
             |tot AS (SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS nu,
             |               (SELECT CAST(SUM(cxy) AS BIGINT) FROM bi) AS nb)
             |SELECT x, y, cxy,
             |  CAST((cxy::HUGEINT * nu::HUGEINT * nu::HUGEINT * 1000) //
             |       (ux.c::HUGEINT * uy.c::HUGEINT * nb::HUGEINT) AS BIGINT) AS lift_permille
             |FROM bi JOIN uni ux ON ux.tok = bi.x JOIN uni uy ON uy.tok = bi.y, tot
             |WHERE cxy >= 5
             |ORDER BY lift_permille DESC, x, y LIMIT 20""".stripMargin)),

    // ---- one BPE merge-selection step: the top-10 most frequent
    //      adjacent character pairs over the WEIGHTED word vocabulary
    //      (pair count = sum over vocab of word-frequency x
    //      occurrences in the word, positions counted with
    //      multiplicity — exactly the statistic byte-pair encoding
    //      maximizes each merge round). Scale shape: the corpus pass
    //      collapses to the vocabulary first (one groupBy), then the
    //      pair explode is vocabulary-sized, not corpus-sized —
    //      tokenizer training's iterative step as two aggregations. ----
    Q("text_bpe_merge_step",
      (s, dir) => {
        val vocab = Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("freq"))
        vocab.select(col("freq"), explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
          .groupBy("pair").agg(sum("freq").as("n"))
          .orderBy(desc("n"), asc("pair")).limit(10)
      },
      Some("""WITH vocab AS (
             |  SELECT w, COUNT(*) AS freq
             |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE length(w) >= 2 GROUP BY w),
             |pairs AS (
             |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, freq
             |  FROM vocab, LATERAL unnest(generate_series(1, length(w) - 1)) AS t(i))
             |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
             |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 10""".stripMargin)),

    // ---- BPE APPLY (encode): the half of tokenizer training that
    //      touches the whole corpus at 100 TB — encode every word
    //      with the FIXED top-10 merge table the merge-selection
    //      step above derives, merges applied sequentially in rank
    //      order. Representation: tokens separated by a DOUBLE
    //      chr(1) boundary, so applying merge (x,y) is one plain
    //      string replace of `\x01x\x01\x01y\x01` -> `\x01xy\x01`
    //      (consuming one sep of each outer boundary, restoring it
    //      in the replacement): replace()'s left-to-right
    //      non-overlapping scan is then EXACTLY greedy BPE ('aaaa'
    //      -> [aa, aa], 'aaa' -> [aa, a]), the boundary invariant is
    //      maintained, and a token merely PREFIXED by y can never
    //      false-match (the pattern demands the closing sep). Both
    //      engines' replace() share these semantics, so the encode
    //      is oracle-exact; DuckDB replays the sequential merges with
    //      a WITH RECURSIVE whose depth is COUNT(*) FROM merges — the
    //      actual collected table size, so a small/skewed corpus that
    //      yields fewer than 10 distinct pairs still terminates at
    //      the same depth the Spark fold runs (the repo's
    //      graph_core_numbers recursion idiom). Scale shape: the
    //      corpus collapses to the VOCABULARY first (one groupBy) —
    //      each distinct word encodes once, as a map-side chain of
    //      10 codegen replaces; the merge table itself is the one
    //      driver-side collect (top-10 rows, metadata-sized — the
    //      merge table is exactly what a tokenizer trainer ships to
    //      every worker). ----
    Q("text_bpe_apply",
      (s, dir) => {
        val vocab = Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .checkpointed() // merge-table stat AND the encode read it
        // the fixed merge table: text_bpe_merge_step's statistic,
        // collected in rank order (10 strings — metadata-sized)
        val merges: Seq[String] = vocab
          .select(col("freq"), explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
          .groupBy("pair").agg(sum("freq").as("n"))
          .orderBy(desc("n"), asc("pair")).limit(10)
          .collect().map(_.getString(0)).toSeq
        val enc = graft.functions.Bpe.encodeFramed(col("w"), merges)
        vocab.select(col("w"), col("freq"), enc.as("_s"))
          .select(col("w"), col("freq"),
            graft.functions.Bpe.nTokens(col("_s")).as("n_tokens"),
            graft.functions.Bpe.tokens(col("_s")).as("encoded"))
          .orderBy(desc("freq"), asc("w")).limit(500)
      },
      Some("""WITH RECURSIVE
             |vocab AS (
             |  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
             |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE length(w) >= 2 GROUP BY w),
             |pairs AS (
             |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, freq
             |  FROM vocab, LATERAL unnest(generate_series(1, length(w) - 1)) AS t(i)),
             |merges AS (
             |  SELECT pair, ROW_NUMBER() OVER (ORDER BY SUM(freq) DESC, pair) AS rk
             |  FROM pairs GROUP BY pair ORDER BY SUM(freq) DESC, pair LIMIT 10),
             |init AS (
             |  SELECT w, freq,
             |    repeat(chr(1), 2) ||
             |    array_to_string([substring(w, CAST(i AS INTEGER), 1)
             |      FOR i IN range(1, length(w) + 1)], repeat(chr(1), 2)) ||
             |    repeat(chr(1), 2) AS s
             |  FROM vocab),
             |enc AS (
             |  SELECT w, freq, s, 0 AS step FROM init
             |  UNION ALL
             |  SELECT e.w, e.freq,
             |    replace(e.s,
             |      chr(1) || substring(m.pair, 1, 1) || repeat(chr(1), 2) ||
             |        substring(m.pair, 2, 1) || chr(1),
             |      chr(1) || m.pair || chr(1)) AS s,
             |    e.step + 1 AS step
             |  FROM enc e JOIN merges m ON m.rk = e.step + 1
             |  WHERE e.step < (SELECT COUNT(*) FROM merges))
             |SELECT w, freq,
             |  CAST((length(s) - length(replace(s, chr(1), ''))) // 2 - 1 AS BIGINT) AS n_tokens,
             |  trim(replace(s, repeat(chr(1), 2), ' ')) AS encoded
             |FROM enc WHERE step = (SELECT COUNT(*) FROM merges)
             |ORDER BY freq DESC, w LIMIT 500""".stripMargin)),

    // ---- TOKENIZER COMPRESSION REPORT (fertility): chars-per-token
    //      under the BPE table, per source — the number a tokenizer
    //      owner watches per corpus slice (a slice whose fertility
    //      collapses is under-served by the merge table and will eat
    //      the token budget). Rides the same vocab-collapsed encode
    //      as text_bpe_apply: each DISTINCT word encodes once, then
    //      per-source totals are one (source, word)-keyed count
    //      joined to the vocab-sized token-length table — corpus
    //      text is never re-encoded per occurrence. Integer permille
    //      via BIGINT floor division. ----
    Q("text_bpe_compression",
      (s, dir) => {
        val words = Tables.t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .checkpointed() // vocab stat AND per-source counts read it
        val vocab = words.groupBy("w").agg(count(lit(1)).as("freq"))
        val merges: Seq[String] = vocab
          .select(col("freq"), explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
          .groupBy("pair").agg(sum("freq").as("n"))
          .orderBy(desc("n"), asc("pair")).limit(10)
          .collect().map(_.getString(0)).toSeq
        val enc = vocab.select(col("w"), graft.functions.Bpe.nTokens(
          graft.functions.Bpe.encodeFramed(col("w"), merges)).as("n_tok"))
        words.groupBy("source", "w").agg(count(lit(1)).as("c"))
          .join(enc, Seq("w"))
          .groupBy("source")
          .agg(sum(col("c")).as("n_words"),
            sum(col("c") * col("n_tok")).as("n_tokens"),
            sum(col("c") * length(col("w")).cast("long")).as("_chars"))
          .select(col("source"), col("n_words"), col("n_tokens"),
            expr("(1000 * _chars) div n_tokens").as("cpt_permille"))
          .orderBy("source")
      },
      Some("""WITH RECURSIVE
             |wrd AS (SELECT source, w
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE length(w) >= 2),
             |vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM wrd GROUP BY 1),
             |pairs AS (
             |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, freq
             |  FROM vocab, LATERAL unnest(generate_series(1, length(w) - 1)) AS t(i)),
             |merges AS (
             |  SELECT pair, ROW_NUMBER() OVER (ORDER BY SUM(freq) DESC, pair) AS rk
             |  FROM pairs GROUP BY pair ORDER BY SUM(freq) DESC, pair LIMIT 10),
             |init AS (
             |  SELECT w, repeat(chr(1), 2) ||
             |    array_to_string([substring(w, CAST(i AS INTEGER), 1)
             |      FOR i IN range(1, length(w) + 1)], repeat(chr(1), 2)) ||
             |    repeat(chr(1), 2) AS s
             |  FROM vocab),
             |enc AS (
             |  SELECT w, s, 0 AS step FROM init
             |  UNION ALL
             |  SELECT e.w,
             |    replace(e.s,
             |      chr(1) || substring(m.pair, 1, 1) || repeat(chr(1), 2) ||
             |        substring(m.pair, 2, 1) || chr(1),
             |      chr(1) || m.pair || chr(1)) AS s,
             |    e.step + 1 AS step
             |  FROM enc e JOIN merges m ON m.rk = e.step + 1
             |  WHERE e.step < (SELECT COUNT(*) FROM merges)),
             |ntok AS (SELECT w,
             |    CAST((length(s) - length(replace(s, chr(1), ''))) // 2 - 1 AS BIGINT) AS n_tok
             |  FROM enc WHERE step = (SELECT COUNT(*) FROM merges)),
             |sw AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM wrd GROUP BY 1, 2)
             |SELECT source, CAST(SUM(c) AS BIGINT) AS n_words,
             |  CAST(SUM(c * n_tok) AS BIGINT) AS n_tokens,
             |  CAST((1000 * SUM(c * length(w))) // SUM(c * n_tok) AS BIGINT) AS cpt_permille
             |FROM sw JOIN ntok USING (w) GROUP BY source ORDER BY source""".stripMargin)),

    // ---- TOKENIZER FERTILITY DRIFT — the RETRAIN TRIGGER for the
    //      tokenizer family, mirroring what embed_centroid_drift is
    //      for the ANN index: the merge table trains on the OLD era
    //      (even doc ids) only, BOTH eras encode under it, and the
    //      report is each era's exact chars-per-token permille plus
    //      the drift — a new-era corpus the old table under-serves
    //      shows up as fertility collapse HERE, before a training
    //      run eats the token budget. Vocab-collapsed throughout:
    //      each distinct word encodes once; era totals are
    //      (era, word)-keyed counts joined to the vocab-sized
    //      token-length table. ----
    Q("text_bpe_fertility_drift",
      (s, dir) => {
        val words = Tables.t(s, dir, "documents")
          .select((col("doc_id") % 2).as("era"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .checkpointed() // old-era stats AND both eras' counts read it
        val merges: Seq[String] = words.filter(col("era") === 0)
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .select(col("freq"), explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
          .groupBy("pair").agg(sum("freq").as("n"))
          .orderBy(desc("n"), asc("pair")).limit(10)
          .collect().map(_.getString(0)).toSeq
        val enc = words.select("w").distinct()
          .select(col("w"), graft.functions.Bpe.nTokens(
            graft.functions.Bpe.encodeFramed(col("w"), merges)).as("n_tok"))
        words.groupBy("era", "w").agg(count(lit(1)).as("c"))
          .join(enc, Seq("w"))
          .groupBy("era")
          .agg(sum(col("c") * length(col("w")).cast("long")).as("_chars"),
            sum(col("c") * col("n_tok")).as("_ntok"))
          .withColumn("cpt", expr("(1000 * _chars) div _ntok"))
          .agg(max(when(col("era") === 0, col("cpt"))).as("cpt_old_pm"),
            max(when(col("era") === 1, col("cpt"))).as("cpt_new_pm"))
          .select(col("cpt_old_pm"), col("cpt_new_pm"),
            abs(col("cpt_new_pm") - col("cpt_old_pm")).as("drift_pm"))
      },
      Some("""WITH RECURSIVE w2 AS (
             |  SELECT doc_id % 2 AS era, w FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE length(w) >= 2),
             |vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
             |          FROM w2 WHERE era = 0 GROUP BY 1),
             |pairs AS (
             |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, freq
             |  FROM vocab, LATERAL unnest(generate_series(1, length(w) - 1)) AS t(i)),
             |merges AS (
             |  SELECT pair, ROW_NUMBER() OVER (ORDER BY SUM(freq) DESC, pair) AS rk
             |  FROM pairs GROUP BY pair ORDER BY SUM(freq) DESC, pair LIMIT 10),
             |allv AS (SELECT DISTINCT w FROM w2),
             |init AS (
             |  SELECT w, repeat(chr(1), 2) ||
             |    array_to_string([substring(w, CAST(i AS INTEGER), 1)
             |      FOR i IN range(1, length(w) + 1)], repeat(chr(1), 2)) ||
             |    repeat(chr(1), 2) AS s
             |  FROM allv),
             |enc AS (
             |  SELECT w, s, 0 AS step FROM init
             |  UNION ALL
             |  SELECT e.w,
             |    replace(e.s,
             |      chr(1) || substring(m.pair, 1, 1) || repeat(chr(1), 2) ||
             |        substring(m.pair, 2, 1) || chr(1),
             |      chr(1) || m.pair || chr(1)) AS s,
             |    e.step + 1 AS step
             |  FROM enc e JOIN merges m ON m.rk = e.step + 1
             |  WHERE e.step < (SELECT COUNT(*) FROM merges)),
             |ntok AS (SELECT w,
             |    CAST((length(s) - length(replace(s, chr(1), ''))) // 2 - 1 AS BIGINT) AS n_tok
             |  FROM enc WHERE step = (SELECT COUNT(*) FROM merges)),
             |ew AS (SELECT era, w, CAST(COUNT(*) AS BIGINT) AS c FROM w2 GROUP BY 1, 2),
             |per AS (SELECT era,
             |    CAST((1000 * SUM(c * length(w))) // SUM(c * n_tok) AS BIGINT) AS cpt
             |  FROM ew JOIN ntok USING (w) GROUP BY era)
             |SELECT MAX(CASE WHEN era = 0 THEN cpt END) AS cpt_old_pm,
             |  MAX(CASE WHEN era = 1 THEN cpt END) AS cpt_new_pm,
             |  abs(MAX(CASE WHEN era = 1 THEN cpt END)
             |      - MAX(CASE WHEN era = 0 THEN cpt END)) AS drift_pm
             |FROM per""".stripMargin)),

    // ---- STREAMING FERTILITY MONITOR: the retrain trigger above as
    //      a STANDING monitor (EventStreams.fertilityDriftStream) —
    //      merges train on the even (reference) era BEFORE the stream
    //      starts (the deployed-tokenizer convention), refCpt is that
    //      era's booked chars-per-token, and each arriving id-parity
    //      batch emits its own cpt + drift under the FIXED merges.
    //      Batch 0 (the reference era re-arriving) must read drift 0
    //      exactly; batch 1 carries the new era's honest drift. The
    //      oracle replays the framed BPE encode in recursive SQL —
    //      the text_bpe_fertility_drift chain emitting one row per
    //      era/batch. ----
    Q("text_stream_fertility",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_stream_fert_")
        val src = work.resolve("src")
        java.nio.file.Files.createDirectory(src)
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        Seq(0, 1).foreach { h =>
          val half = work.resolve(s"h$h").toString
          docs.filter(col("doc_id") % 2 === h).coalesce(1).write.parquet(half)
          val part = new java.io.File(half).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file under $half"))
          val staged = src.resolve(s"h$h.parquet")
          java.nio.file.Files.move(part.toPath, staged)
          java.nio.file.Files.setLastModifiedTime(staged,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - (1 - h) * 10000L))
        }
        val oldWords = docs.filter(col("doc_id") % 2 === 0)
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .checkpointed() // merge training AND the ref-cpt read it
        val merges: Seq[String] = oldWords
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .select(col("freq"), explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
          .groupBy("pair").agg(sum("freq").as("n"))
          .orderBy(desc("n"), asc("pair")).limit(10)
          .collect().map(_.getString(0)).toSeq
        val refCpt = oldWords.groupBy("w").agg(count(lit(1)).as("c"))
          .select(col("c"), length(col("w")).cast("long").as("len"),
            graft.functions.Bpe.nTokens(
              graft.functions.Bpe.encodeFramed(col("w"), merges)).as("n_tok"))
          .agg(expr("(1000 * sum(c * len)) div sum(c * n_tok)").as("cpt"))
          .head().getLong(0)
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        graft.streaming.EventStreams.fertilityDriftStream(s, stream,
            merges, refCpt,
            work.resolve("out").toString, work.resolve("ckpt").toString)
          .orderBy("batch_id")
      },
      Some("""WITH RECURSIVE w2 AS (
             |  SELECT doc_id % 2 AS era, w FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
             |  WHERE length(w) >= 2),
             |vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
             |          FROM w2 WHERE era = 0 GROUP BY 1),
             |pairs AS (
             |  SELECT substring(w, CAST(i AS INTEGER), 2) AS pair, freq
             |  FROM vocab, LATERAL unnest(generate_series(1, length(w) - 1)) AS t(i)),
             |merges AS (
             |  SELECT pair, ROW_NUMBER() OVER (ORDER BY SUM(freq) DESC, pair) AS rk
             |  FROM pairs GROUP BY pair ORDER BY SUM(freq) DESC, pair LIMIT 10),
             |allv AS (SELECT DISTINCT w FROM w2),
             |init AS (
             |  SELECT w, repeat(chr(1), 2) ||
             |    array_to_string([substring(w, CAST(i AS INTEGER), 1)
             |      FOR i IN range(1, length(w) + 1)], repeat(chr(1), 2)) ||
             |    repeat(chr(1), 2) AS s
             |  FROM allv),
             |enc AS (
             |  SELECT w, s, 0 AS step FROM init
             |  UNION ALL
             |  SELECT e.w,
             |    replace(e.s,
             |      chr(1) || substring(m.pair, 1, 1) || repeat(chr(1), 2) ||
             |        substring(m.pair, 2, 1) || chr(1),
             |      chr(1) || m.pair || chr(1)) AS s,
             |    e.step + 1 AS step
             |  FROM enc e JOIN merges m ON m.rk = e.step + 1
             |  WHERE e.step < (SELECT COUNT(*) FROM merges)),
             |ntok AS (SELECT w,
             |    CAST((length(s) - length(replace(s, chr(1), ''))) // 2 - 1 AS BIGINT) AS n_tok
             |  FROM enc WHERE step = (SELECT COUNT(*) FROM merges)),
             |ew AS (SELECT era, w, CAST(COUNT(*) AS BIGINT) AS c FROM w2 GROUP BY 1, 2),
             |per AS (SELECT era, CAST(SUM(c) AS BIGINT) AS n_words,
             |    CAST(SUM(c * n_tok) AS BIGINT) AS n_tokens,
             |    CAST((1000 * SUM(c * length(w))) // SUM(c * n_tok) AS BIGINT) AS cpt_permille
             |  FROM ew JOIN ntok USING (w) GROUP BY era)
             |SELECT CAST(era AS BIGINT) AS batch_id, n_words, n_tokens, cpt_permille,
             |  abs(cpt_permille - (SELECT cpt_permille FROM per WHERE era = 0)) AS drift_pm
             |FROM per ORDER BY batch_id""".stripMargin)),

    // ---- ITERATIVE BPE TRAINER: the k-round select -> apply ->
    //      recount loop of real tokenizer training (Sennrich et al.
    //      2016) — text_bpe_merge_step is only round 1's statistic
    //      from the initial character state; here each round
    //      re-encodes the vocabulary under the merges selected SO
    //      FAR, recounts adjacent TOKEN pairs, and appends the max,
    //      so later merges pair MULTI-char tokens exactly as BPE
    //      grows its vocabulary. Scale shape: the corpus collapses
    //      to the vocabulary ONCE (the only corpus-sized pass);
    //      every round is vocab-sized (<= k codegen replaces + one
    //      pair count) and ships ONE row to the driver — m-invariant
    //      under corpus replication (SCALE bpetrain). Oracle: the
    //      identical loop UNROLLED as a CTE chain (select + apply
    //      per step), both engines sharing the framed-replace encode
    //      and the (n DESC, l, r) tie order. ----
    Q("text_bpe_train",
      (s, dir) => {
        import s.implicits._
        val vocab = Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .checkpointed() // re-read every training round
        val merges = graft.functions.Bpe.trainMerges(vocab, "w", "freq", rounds = 10)
        merges.zipWithIndex.map { case ((l, r, n), i) =>
          (i + 1L, l, r, l + r, n)
        }.toDF("rk", "left_tok", "right_tok", "merged", "n").orderBy("rk")
      },
      Some(bpeTrainOracle(10))),

    // ---- TRAIN -> APPLY composition: encode the vocabulary under
    //      the TRAINED multi-char merge table (not the fixed
    //      initial-state table text_bpe_apply uses) — the corpus
    //      view a tokenizer owner actually ships after training.
    //      Spark side: trainMerges then one encodeMerges chain over
    //      the vocab. Oracle: the train recursion's FINAL state s10
    //      IS the vocabulary encoded under the learned table (each
    //      step applied its selected merge), so the oracle just
    //      renders it — the two halves pin each other. ----
    Q("text_bpe_train_apply",
      (s, dir) => {
        val vocab = Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .checkpointed()
        val merges = graft.functions.Bpe.trainMerges(vocab, "w", "freq", rounds = 10)
        val enc = graft.functions.Bpe.encodeMerges(col("w"),
          merges.map(m => (m._1, m._2)))
        vocab.select(col("w"), col("freq"), enc.as("_s"))
          .select(col("w"), col("freq"),
            graft.functions.Bpe.nTokens(col("_s")).as("n_tokens"),
            graft.functions.Bpe.tokens(col("_s")).as("encoded"))
          .orderBy(desc("freq"), asc("w")).limit(500)
      },
      Some(bpeTrainApplyOracle(10))),

    // ---- UNIGRAM-LM TOKENIZER TRAINER (SentencePiece family — the
    //      second public tokenizer-training algorithm beside BPE):
    //      seed = all single chars + top-32 substrings (len 2..4,
    //      occurrence-weighted) of the vocab-collapsed corpus; then
    //      2 E/M rounds — Viterbi best-path segmentation of every
    //      vocab word under the current integer-micros piece
    //      log-probs (exact BIGINT max-sum, longest-piece tie-break),
    //      freq-weighted expected counts, prune to top-24 multi-char
    //      (chars never pruned — coverage guaranteed), smoothed
    //      ln-micro re-score. Oracle: the full loop replayed — dp
    //      forward as a positions recursion carrying the dp list,
    //      backtrace as a second recursion, the same MAP lookups and
    //      −1e12 missing-piece floor. Scale: the trainMerges argument
    //      verbatim — one corpus collapse, then vocab-sized rounds
    //      (SCALE unigram: train wall flat at 10× corpus). ----
    Q("text_unigram_train",
      (s, dir) => {
        val vocab = Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("freq"))
        graft.functions.Unigram.trainUnigram(vocab, "w", "freq",
          rounds = 2, seedMulti = 32, keepMulti = 24)
      },
      Some(unigramOracle(2, 32, 24))),

    // ---- UNIGRAM TRAIN -> APPLY: the vocabulary segmented under the
    //      TRAINED piece scores — the corpus view a tokenizer owner
    //      ships (text_bpe_train_apply's unigram twin). Spark side:
    //      trainUnigramTable then ONE more Viterbi pass; oracle: the
    //      training chain plus one more dp/bt recursion under the
    //      final map, rendered in reading order. ----
    Q("text_unigram_train_apply",
      (s, dir) => {
        val vocab = Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w"))
            .between(2, graft.functions.Unigram.MaxWordLen))
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .checkpointed() // trained over AND re-segmented
        val tab = graft.functions.Unigram.trainUnigramTable(
          vocab, "w", "freq", rounds = 2, seedMulti = 32, keepMulti = 24)
        val smap = tab.map(t => t._1 -> t._3).toMap
        vocab
          .withColumn("_dp", graft.functions.Unigram.viterbiDp(col("w"), smap))
          .withColumn("_ps", graft.functions.Unigram
            .viterbiPieces(col("w"), col("_dp"), smap))
          .select(col("w"), col("freq"),
            size(col("_ps")).cast("long").as("n_pieces"),
            array_join(reverse(col("_ps")), " ").as("encoded"))
          .orderBy(desc("freq"), asc("w")).limit(500)
      },
      Some(unigramApplyOracle(2, 32, 24))),

    // ---- UNIGRAM APPLY, BROADCAST-JOIN FORM (the production
    //      segmentation path past the typedLit piece ceiling —
    //      Unigram.segmentJoined): spans explode once per distinct
    //      word, the trained piece table joins as ONE broadcast, the
    //      same exact-BIGINT dp/backtrace walks the folded per-word
    //      map. Must emit byte-identical output to
    //      text_unigram_train_apply — same oracle, so the two
    //      execution strategies are pinned against one recursive-SQL
    //      ground truth (the dedup-family discipline). ----
    Q("text_unigram_apply_scalable",
      (s, dir) => {
        import s.implicits._
        val vocab = Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w"))
            .between(2, graft.functions.Unigram.MaxWordLen))
          .groupBy("w").agg(count(lit(1)).as("freq"))
          .checkpointed() // trained over AND re-segmented
        val tab = graft.functions.Unigram.trainUnigramTable(
          vocab, "w", "freq", rounds = 2, seedMulti = 32, keepMulti = 24)
        val pieceDf = tab.map(t => (t._1, t._3)).toDF("piece", "score_micros")
        graft.functions.Unigram.segmentJoined(vocab, "w", pieceDf)
          .select(col("w"), col("freq"),
            size(col("_pieces")).cast("long").as("n_pieces"),
            array_join(reverse(col("_pieces")), " ").as("encoded"))
          .orderBy(desc("freq"), asc("w")).limit(500)
      },
      Some(unigramApplyOracle(2, 32, 24))),

    // ---- LEARNED QUALITY/LANGUAGE CLASSIFIER (hashed-n-gram linear
    //      scorer — the fastText-classifier shape public
    //      data-curation pipelines apply at corpus scale): word
    //      unigrams + adjacent bigrams hash into 1024 buckets
    //      (md5-nibble arithmetic — the portable bit source), a
    //      naive-Bayes log-odds weight per bucket is TRAINED on the
    //      doc_id % 5 != 0 split against the lang='en' label, and the
    //      held-out split is SCORED: score(doc) = Σ_feats
    //      w[bucket(f)]. Completes the quality tier from rule
    //      batteries to learned-score application. Exactness: weights
    //      are the one-ln-over-an-exact-integer-ratio micro idiom
    //      ((pos+1)(NT+B)/((neg+1)(PT+B)) — the PSI smoothing
    //      discipline); scores are BIGINT micro sums. Scale shape:
    //      application is MAP-SIDE — explode features, codegen bucket
    //      arithmetic, broadcast join the 1024-row weight table, one
    //      doc-keyed sum; the train and apply scans read DISJOINT
    //      splits so nothing is computed twice. (The synthetic
    //      fixture's langs share ONE vocabulary, so held-out accuracy
    //      sits at the base rate by construction — the gate pins the
    //      hash/train/score/predict MECHANICS bit-exactly, not model
    //      skill; on a real multilingual corpus the same dag is the
    //      CCNet/fastText-style lang-quality filter.) ----
    Q("text_quality_classifier",
      (s, dir) => {
        val bigrams = "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1)," +
          " i -> concat(element_at(w, i), '_', element_at(w, i + 1))) " +
          "ELSE array() END"
        def feats(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), col("lang"),
            expr("filter(split(text, ' '), t -> t != '')").as("w"))
          .select(col("doc_id"), col("lang"),
            explode(concat(col("w"), expr(bigrams))).as("f"))
          .select(col("doc_id"), col("lang"),
            expr("CAST(conv(substring(md5(f), 6, 3), 16, 10) AS INT) % 1024").as("b"))
        val d = Tables.t(s, dir, "documents")
        val train = feats(d.filter(col("doc_id") % 5 =!= 0))
          .groupBy("b").agg(
            sum(when(col("lang") === "en", 1L).otherwise(0L)).as("pos"),
            sum(when(col("lang") === "en", 0L).otherwise(1L)).as("neg"))
        val tot = train.agg(
          coalesce(sum("pos"), lit(0L)).as("pt"),
          coalesce(sum("neg"), lit(0L)).as("nt"))
        val wt = s.range(0, 1024).select(col("id").cast("int").as("b"))
          .join(train, Seq("b"), "left")
          .select(col("b"),
            coalesce(col("pos"), lit(0L)).as("pos"),
            coalesce(col("neg"), lit(0L)).as("neg"))
          .crossJoin(broadcast(tot))
          .select(col("b"),
            round(log(((col("pos") + 1) * (col("nt") + 1024)).cast("double") /
              ((col("neg") + 1) * (col("pt") + 1024)).cast("double")) * 1000000)
              .cast("long").as("w_micro"))
        feats(d.filter(col("doc_id") % 5 === 0))
          .join(broadcast(wt), Seq("b"))
          .groupBy(col("doc_id"), (col("lang") === "en").as("is_en"))
          .agg(count(lit(1)).as("n_feats"), sum("w_micro").as("score_micro"))
          .select(col("doc_id"), col("n_feats"), col("score_micro"),
            (col("score_micro") > 0).as("pred_en"), col("is_en"))
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, lang,
             |    list_filter(string_split(text, ' '), t -> t <> '') AS w FROM documents),
             |f AS (SELECT doc_id, lang,
             |    unnest(list_concat(w,
             |      [w[i] || '_' || w[i+1] FOR i IN range(1, len(w))])) AS f
             |  FROM d),
             |b AS (SELECT doc_id, lang,
             |    ((strpos('0123456789abcdef', substr(md5(f), 6, 1)) - 1) * 256
             |     + (strpos('0123456789abcdef', substr(md5(f), 7, 1)) - 1) * 16
             |     + (strpos('0123456789abcdef', substr(md5(f), 8, 1)) - 1)) % 1024 AS b
             |  FROM f),
             |tr AS (SELECT b,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
             |    CAST(SUM(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS neg
             |  FROM b WHERE doc_id % 5 <> 0 GROUP BY 1),
             |tot AS (SELECT CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS pt,
             |               CAST(COALESCE(SUM(neg), 0) AS BIGINT) AS nt FROM tr),
             |sp AS (SELECT unnest(generate_series(0, 1023)) AS b),
             |wt AS (SELECT sp.b AS b,
             |    CAST(round(ln(CAST((COALESCE(tr.pos, 0) + 1) * (tot.nt + 1024) AS DOUBLE) /
             |                  CAST((COALESCE(tr.neg, 0) + 1) * (tot.pt + 1024) AS DOUBLE))
             |         * 1000000) AS BIGINT) AS w_micro
             |  FROM sp LEFT JOIN tr ON tr.b = sp.b CROSS JOIN tot),
             |ap AS (SELECT b.doc_id, b.lang, wt.w_micro
             |  FROM b JOIN wt ON wt.b = b.b WHERE b.doc_id % 5 = 0)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
             |  CAST(SUM(w_micro) AS BIGINT) AS score_micro,
             |  SUM(w_micro) > 0 AS pred_en, lang = 'en' AS is_en
             |FROM ap GROUP BY doc_id, lang ORDER BY doc_id""".stripMargin)),

    // ---- exact deduplication: keeper = min doc_id per identical text ----
    Q("dedup_exact",
      (s, dir) => Tables.t(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
        .select("keeper_id", "n_copies", "text")
        .orderBy("keeper_id"),
      Some("""SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies, text
             |FROM documents GROUP BY text ORDER BY keeper_id""".stripMargin)),

    // ---- near-dedup: exact 3-gram-shingle Jaccard >= 0.7 pairs.
    //      Integer cross-multiplication avoids float thresholds. ----
    Q("dedup_jaccard_pairs",
      (s, dir) => {
        val shingles = graft.operators.Dedup
          .shingles(Tables.t(s, dir, "documents"), "doc_id", "text")
        val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
        val a = shingles.as("a"); val b = shingles.as("b")
        val common = a.join(b, col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_common"))
        common
          .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "na"), "doc_a")
          .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "nb"), "doc_b")
          .filter(col("n_common") * 10 >= (col("na") + col("nb") - col("n_common")) * 7)
          .select("doc_a", "doc_b", "n_common", "na", "nb")
          .orderBy("doc_a", "doc_b")
      },
      // the ONE shared oracle text — dedup_minhash_pairs checks against
      // the same ground truth by construction (no drift between copies)
      Some(jaccardOracle)),

    // ---- MinHash + LSH near-dedup (the 100 TB path): banded
    //      signature buckets -> candidate pairs -> exact verify.
    //      Same oracle as the exact query: verification makes the
    //      output equal up to LSH recall (~1-5e-4 at this banding). ----
    Q("dedup_minhash_pairs",
      (s, dir) => graft.operators.Dedup
        .minhashNearDups(Tables.t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b"),
      Some(jaccardOracle)),

    // ---- prefix-filtered EXACT similarity join (AllPairs/PPJoin
    //      family): equals the quadratic all-pairs result by
    //      construction — no recall caveat — while self-joining only
    //      on each doc's rarest-token prefix. The scalable exact
    //      form the quadratic dedup_jaccard_pairs is the oracle twin
    //      of. Same shared oracle text as the other two pair queries:
    //      one ground truth, three execution strategies. ----
    Q("dedup_prefix_pairs",
      (s, dir) => graft.operators.Dedup
        .prefixFilterNearDups(Tables.t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_a", "doc_b"),
      Some(jaccardOracle)),

    // ---- asymmetric CONTAINMENT pairs: |S_a ∩ S_b| / |S_a| >= 9/10
    //      over 3-gram shingle sets — the sub-document duplication
    //      Jaccard misses (a short doc embedded in a long one has
    //      low Jaccard but containment 1). Pairs are DIRECTIONAL:
    //      (contained, container). Near-containments are CONSTRUCTED
    //      (each >= 8-token doc contributes a first-half copy at
    //      id + 200000, floor division identical in both engines —
    //      its shingles are a subset of its base's). Integer
    //      cross-multiplication for the threshold; permille ratio by
    //      integral division, both exact. Runs through the
    //      PREFIX-FILTERED containment join (Dedup.containmentPairs:
    //      contained-side rarest-token prefix probes the container
    //      postings — exact by pigeonhole, fan-out bounded by
    //      rare-token dfs); the oracle is the plain quadratic
    //      shingle join, so the filter's losslessness is ON the
    //      gate. ----
    Q("text_containment_pairs",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val halves = docs.withColumn("w", split(col("text"), " "))
          .filter(size(col("w")) >= 8)
          .select((col("doc_id") + 200000).as("doc_id"),
            expr("array_join(slice(w, 1, CAST(size(w) div 2 AS INT)), ' ')").as("text"))
        val aug = docs.select("doc_id", "text").union(halves)
        graft.operators.Dedup.containmentPairs(aug, "doc_id", "text")
          .select("contained", "container", "n_common", "na", "containment_permille")
          .orderBy("contained", "container")
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents),
             |halves AS (SELECT doc_id + 200000 AS doc_id,
             |             array_to_string(w[1: len(w) // 2], ' ') AS text
             |           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             |           WHERE len(w) >= 8),
             |aug AS (SELECT * FROM base UNION ALL SELECT * FROM halves),
             |toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM aug),
             |sh AS (SELECT DISTINCT doc_id,
             |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
             |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
             |common AS (SELECT a.doc_id AS contained, b.doc_id AS container, COUNT(*) AS n_common
             |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
             |           GROUP BY 1, 2)
             |SELECT contained, container, n_common, sa.n_sh AS na,
             |  CAST(n_common * 1000 // sa.n_sh AS BIGINT) AS containment_permille
             |FROM common JOIN sizes sa ON sa.doc_id = contained
             |WHERE n_common * 10 >= sa.n_sh * 9
             |ORDER BY contained, container""".stripMargin)),

    // ---- DUPLICATED-SPAN EXTRACTION (substring-level dedup, the
    //      suffix-array pass of public pipelines): every maximal run
    //      of consecutive positions whose 3-gram window occurs in
    //      >= 2 distinct docs, emitted as (doc, start, len>=5)
    //      excision spans — the operator that says WHICH PART of a
    //      document is boilerplate, where the pair joins only say
    //      which documents overlap. Spark side: positional postings
    //      -> one gram-keyed min!=max aggregation -> join back ->
    //      gaps-and-islands (the events_activity_streaks idiom).
    //      Oracle: the QUADRATIC position self-join (a.gram = b.gram,
    //      a.doc != b.doc) then the same islands — independent
    //      derivation of the same spans. ----
    Q("text_dup_spans",
      (s, dir) => graft.operators.Dedup
        .duplicatedSpans(Tables.t(s, dir, "documents"), "doc_id", "text",
          k = 3, minTokens = 5)
        .orderBy("doc_id", "start_pos"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS gram
             |      FROM (SELECT doc_id, w,
             |              unnest(generate_series(1, len(w) - 2)) AS i FROM toks)),
             |cov AS (SELECT DISTINCT a.doc_id, a.pos
             |        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
             |isl AS (SELECT doc_id, pos,
             |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
             |        FROM cov)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
             |  CAST(COUNT(*) + 2 AS BIGINT) AS n_tokens
             |FROM isl GROUP BY doc_id, i
             |HAVING COUNT(*) + 2 >= 5
             |ORDER BY doc_id, start_pos""".stripMargin)),

    // ---- UNIGRAM COMPRESSION REPORT (fertility): chars-per-piece
    //      under the TRAINED unigram pieces, per source —
    //      text_bpe_compression's unigram twin, closing the
    //      train/apply/fertility symmetry between the two tokenizer
    //      families. Rides the vocab-collapsed segmentation (each
    //      DISTINCT word Viterbi-segments once); per-source totals
    //      are one (source, word)-keyed count joined to the
    //      vocab-sized piece-length table. ----
    Q("text_unigram_compression",
      (s, dir) => {
        val words = Tables.t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w"))
            .between(2, graft.functions.Unigram.MaxWordLen))
          .checkpointed() // vocab stat AND per-source counts read it
        val vocab = words.groupBy("w").agg(count(lit(1)).as("freq"))
        val tab = graft.functions.Unigram.trainUnigramTable(
          vocab, "w", "freq", rounds = 2, seedMulti = 32, keepMulti = 24)
        val smap = tab.map(t => t._1 -> t._3).toMap
        val enc = vocab
          .withColumn("_dp", graft.functions.Unigram.viterbiDp(col("w"), smap))
          .select(col("w"), size(graft.functions.Unigram
            .viterbiPieces(col("w"), col("_dp"), smap)).cast("long").as("n_p"))
        words.groupBy("source", "w").agg(count(lit(1)).as("c"))
          .join(enc, Seq("w"))
          .groupBy("source")
          .agg(sum(col("c")).as("n_words"),
            sum(col("c") * col("n_p")).as("n_pieces"),
            sum(col("c") * length(col("w")).cast("long")).as("_chars"))
          .select(col("source"), col("n_words"), col("n_pieces"),
            expr("(1000 * _chars) div n_pieces").as("cpp_permille"))
          .orderBy("source")
      },
      Some(unigramChain(2, 32, 24) +
        s""",
           |${unigramDpBt("A", "m2")},
           |np AS (SELECT w, CAST(len(ps) AS BIGINT) AS n_p FROM btA WHERE pos = 0),
           |wsrc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
           |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents)
           |  WHERE length(w) BETWEEN 2 AND ${graft.functions.Unigram.MaxWordLen}
           |  GROUP BY 1, 2)
           |SELECT source, CAST(SUM(c) AS BIGINT) AS n_words,
           |  CAST(SUM(c * n_p) AS BIGINT) AS n_pieces,
           |  CAST((1000 * SUM(c * length(w))) // SUM(c * n_p) AS BIGINT) AS cpp_permille
           |FROM wsrc JOIN np USING (w)
           |GROUP BY source ORDER BY source""".stripMargin)),

    // ---- CHAR-GRAINED DUPLICATED SPANS: the no-space-script variant
    //      of text_dup_spans — word-split k-grams see nothing in CJK
    //      or whitespace-stripped boilerplate, so this form windows
    //      raw CHARACTERS (12-char windows, >= 2 distinct docs,
    //      maximal runs >= 20 chars; the posting pipeline is
    //      gram-producer-agnostic). Oracle: the quadratic char-
    //      position self-join, independently derived. ----
    Q("text_dup_spans_chars",
      (s, dir) => graft.operators.Dedup
        .duplicatedSpansChars(Tables.t(s, dir, "documents"), "doc_id", "text",
          k = 12, minChars = 20)
        .orderBy("doc_id", "start_pos"),
      Some("""WITH g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        substring(text, CAST(i AS INTEGER), 12) AS gram
             |      FROM documents,
             |           LATERAL unnest(generate_series(1, length(text) - 11)) AS t(i)),
             |cov AS (SELECT DISTINCT a.doc_id, a.pos
             |        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
             |isl AS (SELECT doc_id, pos,
             |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
             |        FROM cov)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
             |  CAST(COUNT(*) + 11 AS BIGINT) AS n_chars
             |FROM isl GROUP BY doc_id, i
             |HAVING COUNT(*) + 11 >= 20
             |ORDER BY doc_id, start_pos""".stripMargin)),

    // ---- INCREMENTAL DUPLICATED-SPAN EXTRACTION (the daily-ingest
    //      twin of text_dup_spans, matching what dedup_incremental
    //      does for MinHash): the corpus (doc_id % 7 != 0) collapses
    //      ONCE to its persisted gram summary — gram-vocabulary-sized,
    //      (gram, lo_doc, hi_doc), no positional postings persisted —
    //      and the fresh batch (% 7 == 0, disjoint ids) probes it:
    //      a batch position is covered iff its gram exists in the
    //      index at all OR >= 2 batch docs own it. Oracle: the FULL
    //      corpus+batch quadratic span derivation restricted to batch
    //      ids — green means the probe path equals the rebuild
    //      without rescanning the corpus. SCALE dupspaninc: probe
    //      wall tracks the batch while the corpus grows 10×. ----
    Q("text_dup_spans_incremental",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        val index = graft.operators.Dedup.gramSpanSummary(
            d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", k = 3)
          .checkpointed() // the persisted-index stand-in: built once
        graft.operators.Dedup.dupSpansIncremental(index,
            d.filter(col("doc_id") % 7 === 0), "doc_id", "text",
            k = 3, minTokens = 5)
          .orderBy("doc_id", "start_pos")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS gram
             |      FROM (SELECT doc_id, w,
             |              unnest(generate_series(1, len(w) - 2)) AS i FROM toks)),
             |cov AS (SELECT DISTINCT a.doc_id, a.pos
             |        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
             |isl AS (SELECT doc_id, pos,
             |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
             |        FROM cov WHERE doc_id % 7 = 0)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
             |  CAST(COUNT(*) + 2 AS BIGINT) AS n_tokens
             |FROM isl GROUP BY doc_id, i
             |HAVING COUNT(*) + 2 >= 5
             |ORDER BY doc_id, start_pos""".stripMargin)),

    // ---- INCREMENTAL CHAR-GRAINED DUPLICATED SPANS (VERDICT r16
    //      #6): the daily-ingest probe for the no-space-script grain
    //      — the corpus (doc_id % 7 != 0) collapses once to its
    //      persisted CHAR-gram summary and the fresh batch (% 7 == 0)
    //      probes it through the same gram-producer-agnostic
    //      composition as the word-grain path. Oracle: the FULL
    //      corpus+batch quadratic char-span derivation restricted to
    //      batch ids — green means CJK/whitespace-stripped
    //      boilerplate gets the same rescan-free ingest path. ----
    Q("text_dup_spans_chars_incremental",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        val index = graft.operators.Dedup.charGramSpanSummary(
            d.filter(col("doc_id") % 7 =!= 0), "doc_id", "text", k = 12)
          .checkpointed() // the persisted-index stand-in: built once
        graft.operators.Dedup.dupSpansCharsIncremental(index,
            d.filter(col("doc_id") % 7 === 0), "doc_id", "text",
            k = 12, minChars = 20)
          .orderBy("doc_id", "start_pos")
      },
      Some("""WITH g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        substring(text, CAST(i AS INTEGER), 12) AS gram
             |      FROM documents,
             |           LATERAL unnest(generate_series(1, length(text) - 11)) AS t(i)),
             |cov AS (SELECT DISTINCT a.doc_id, a.pos
             |        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
             |isl AS (SELECT doc_id, pos,
             |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
             |        FROM cov WHERE doc_id % 7 = 0)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
             |  CAST(COUNT(*) + 11 AS BIGINT) AS n_chars
             |FROM isl GROUP BY doc_id, i
             |HAVING COUNT(*) + 11 >= 20
             |ORDER BY doc_id, start_pos""".stripMargin)),

    // ---- SELF-REPETITION SPANS: within-document repeated k-gram
    //      runs — the loop/boilerplate detector for generated or
    //      scraped text, the failure mode text_dup_spans (which
    //      requires >= 2 DISTINCT docs) deliberately excludes. One
    //      (doc, gram) count >= 2 + join back + islands; oracle is
    //      the quadratic within-doc position self-join. ----
    Q("text_self_repeat_spans",
      (s, dir) => graft.operators.Dedup
        .selfRepeatSpans(Tables.t(s, dir, "documents"), "doc_id", "text",
          k = 3, minTokens = 3)
        .orderBy("doc_id", "start_pos"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS gram
             |      FROM (SELECT doc_id, w,
             |              unnest(generate_series(1, len(w) - 2)) AS i FROM toks)),
             |cov AS (SELECT DISTINCT a.doc_id, a.pos
             |        FROM g a JOIN g b ON a.doc_id = b.doc_id AND a.gram = b.gram
             |                         AND a.pos <> b.pos),
             |isl AS (SELECT doc_id, pos,
             |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
             |        FROM cov)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
             |  CAST(COUNT(*) + 2 AS BIGINT) AS n_tokens
             |FROM isl GROUP BY doc_id, i
             |ORDER BY doc_id, start_pos""".stripMargin)),

    // ---- SPAN EXCISION (the rewrite half of substring dedup): drop
    //      every token position covered by a text_dup_spans span and
    //      rebuild each document from its survivors — the actual
    //      boilerplate-scrubbed corpus a training pipeline writes,
    //      span-grained where dedup_lines is sentence-grained. Docs
    //      with no spans pass through intact; fully-boilerplate docs
    //      excise to ''. Oracle replays the quadratic span derivation
    //      then the same anti-join + ordered string_agg rebuild. ----
    Q("text_excise_spans",
      (s, dir) => graft.operators.Dedup
        .exciseSpans(Tables.t(s, dir, "documents"), "doc_id", "text",
          k = 3, minTokens = 5)
        .orderBy("doc_id"),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS gram
             |      FROM (SELECT doc_id, w,
             |              unnest(generate_series(1, len(w) - 2)) AS i FROM toks)),
             |cov AS (SELECT DISTINCT a.doc_id, a.pos
             |        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
             |isl AS (SELECT doc_id, pos,
             |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
             |        FROM cov),
             |spans AS (SELECT doc_id, MIN(pos) AS sp, COUNT(*) + 2 AS nt
             |          FROM isl GROUP BY doc_id, i HAVING COUNT(*) + 2 >= 5),
             |covpos AS (SELECT DISTINCT doc_id, CAST(p AS BIGINT) AS pos
             |           FROM spans, LATERAL unnest(generate_series(sp, sp + nt - 1)) AS u(p)),
             |t AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, w[CAST(i AS INTEGER)] AS tok
             |      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM toks)),
             |kept AS (SELECT t.doc_id, t.pos, t.tok
             |         FROM t LEFT JOIN covpos c ON c.doc_id = t.doc_id AND c.pos = t.pos
             |         WHERE c.pos IS NULL),
             |r AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_excised,
             |        CAST(COUNT(*) AS BIGINT) AS n_kept
             |      FROM kept GROUP BY doc_id)
             |SELECT d.doc_id, COALESCE(r.text_excised, '') AS text_excised,
             |  COALESCE(r.n_kept, 0) AS n_kept,
             |  CAST(len(string_split(d.text, ' ')) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_dropped
             |FROM documents d LEFT JOIN r ON r.doc_id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- near-dup CLUSTERS: transitive closure over the verified
    //      MinHash pairs (a~b, b~c => one {a,b,c} cluster keyed by its
    //      min doc_id). The stage that turns pair lists into a dedup
    //      decision. Oracle: DuckDB WITH RECURSIVE min-label closure
    //      over the exact-Jaccard pair set. ----
    Q("dedup_clusters",
      (s, dir) => {
        val pairs = graft.operators.Dedup
          .minhashNearDups(Tables.t(s, dir, "documents"), "doc_id", "text")
        graft.operators.Dedup.clusters(pairs)
          .withColumn("n_members", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
          .select(col("node").as("doc_id"), col("cluster_id"), col("n_members"))
          .orderBy("doc_id")
      },
      Some(clusterOracle +
        """SELECT node AS doc_id, cluster_id,
          |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
          |FROM cl ORDER BY doc_id""".stripMargin)),

    // ---- INCREMENTAL CLUSTER MAINTENANCE: the standing cluster
    //      assignment (built from the even-doc corpus's pairs) folds
    //      in an arriving odd-doc batch — cross pairs probed from the
    //      PERSISTED even sketch (the corpus is never re-shingled),
    //      batch-internal pairs from the standard path, then
    //      Dedup.clustersIncremental replays the old labels as star
    //      edges and min-labels propagate across any merges. Output
    //      must equal the full rebuild over ALL pairs — the same
    //      WITH RECURSIVE closure oracle as dedup_clusters, so the
    //      star-edge equivalence is ON the gate. ----
    Q("dedup_clusters_incremental",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        val even = d.filter(col("doc_id") % 2 === 0)
        val odd = d.filter(col("doc_id") % 2 === 1)
        // ONE shingle spine + band frame per side, shared across the
        // standing-label build, the persisted-sketch stand-in and the
        // batch-internal/cross probes (the writeNearDupBatch
        // discipline — each side's shingle kernel previously re-ran
        // per consumer)
        val spineEven = graft.operators.Dedup
          .shingleSpine(even, "doc_id", "text").checkpointed()
        val bandEven = graft.operators.Dedup
          .bandRowsOfSpine(spineEven, "doc_id")
          .checkpointed() // the persisted-index stand-in
        val spineOdd = graft.operators.Dedup
          .shingleSpine(odd, "doc_id", "text").checkpointed()
        val bandOdd = graft.operators.Dedup
          .bandRowsOfSpine(spineOdd, "doc_id").checkpointed()
        val labels = graft.operators.Dedup.clusters(
          graft.operators.Dedup.verifyJaccard(
            graft.operators.Dedup.candidatePairsFrom(bandEven, "doc_id"),
            spineEven, "doc_id", 7, 10))
          .checkpointed() // the standing assignment: state, not a plan
        val cross = graft.operators.Dedup
          .incrementalNearDupsFromSketchSpine(bandEven, even, bandOdd, spineOdd,
            "doc_id", "text")
          .select(least(col("corpus_id"), col("fresh_id")).as("doc_a"),
            greatest(col("corpus_id"), col("fresh_id")).as("doc_b"))
        val internal = graft.operators.Dedup.verifyJaccard(
            graft.operators.Dedup.candidatePairsFrom(bandOdd, "doc_id"),
            spineOdd, "doc_id", 7, 10)
          .select("doc_a", "doc_b")
        graft.operators.Dedup
          .clustersIncremental(labels, cross.unionByName(internal))
          .withColumn("n_members", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
          .select(col("node").as("doc_id"), col("cluster_id"), col("n_members"))
          .orderBy("doc_id")
      },
      Some(clusterOracle +
        """SELECT node AS doc_id, cluster_id,
          |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
          |FROM cl ORDER BY doc_id""".stripMargin)),

    // ---- NEAR-DUP PAIR EVIDENCE (forensics): for every verified
    //      MinHash pair, the shared-shingle count plus its 3 RAREST
    //      shared shingles under the global (corpus df, shingle)
    //      order — the human-readable "why did dedup pair these"
    //      report an operator pulls before bulk-deleting. Shared
    //      shingles come from one (pair ⋈ postings ⋈ postings)
    //      chain keyed on (doc, shingle); the rarest-3 pick is a
    //      pair-partitioned rank (pairs are few — candidates only). ----
    Q("dedup_pair_evidence",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val pairs = graft.operators.Dedup
          .minhashNearDups(docs, "doc_id", "text")
          .select("doc_a", "doc_b")
        val sh = graft.operators.Dedup.shingles(docs, "doc_id", "text")
        val freq = sh.groupBy("shingle").agg(count(lit(1)).as("tdf"))
        val shared = pairs
          .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
            Seq("doc_b", "shingle"))
          .join(freq, "shingle")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_a", "doc_b").orderBy(asc("tdf"), asc("shingle"))
        val evid = shared.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .groupBy("doc_a", "doc_b")
          .agg(array_join(transform(
            array_sort(collect_list(struct(col("tdf"), col("shingle")))),
            x => x.getField("shingle")), " | ").as("rarest_shared"))
        shared.groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_shared"))
          .join(evid, Seq("doc_a", "doc_b"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
             |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
             |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
             |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             |           GROUP BY 1, 2),
             |pairs AS (SELECT doc_a, doc_b
             |          FROM common JOIN sizes sa ON sa.doc_id = doc_a
             |                      JOIN sizes sb ON sb.doc_id = doc_b
             |          WHERE n_common * 10 >= (sa.n_sh + sb.n_sh - n_common) * 7),
             |freq AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS tdf FROM sh GROUP BY 1),
             |shared AS (SELECT p.doc_a, p.doc_b, a.shingle, f.tdf
             |           FROM pairs p
             |           JOIN sh a ON a.doc_id = p.doc_a
             |           JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
             |           JOIN freq f ON f.shingle = a.shingle),
             |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
             |        ORDER BY tdf, shingle) AS rk FROM shared),
             |e AS (SELECT doc_a, doc_b,
             |        string_agg(shingle, ' | ' ORDER BY tdf, shingle) AS rarest_shared
             |      FROM r WHERE rk <= 3 GROUP BY 1, 2),
             |c AS (SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
             |      FROM shared GROUP BY 1, 2)
             |SELECT c.doc_a, c.doc_b, c.n_shared, e.rarest_shared
             |FROM c JOIN e ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
             |ORDER BY c.doc_a, c.doc_b""".stripMargin)),

    // ---- SOFT dedup (duplicate-aware sampling weights): instead of
    //      dropping near-dup cluster members, weight each document by
    //      1000 div cluster_size permille — the "count each effective
    //      document once" mixing discipline public pipelines use when
    //      hard dedup is too lossy (duplication frequency sometimes
    //      carries signal). Unclustered docs keep weight 1000. Feeds
    //      straight into Sampling.weightedMix's weightPermille. ----
    Q("dedup_soft_weights",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val cl = graft.operators.Dedup
          .clusters(graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text"))
          .select(col("node").as("doc_id"), col("cluster_id"))
        val sizes = cl.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
        docs.select("doc_id")
          .join(cl.join(sizes, "cluster_id"), Seq("doc_id"), "left")
          .withColumn("cluster_size", coalesce(col("csize"), lit(1L)))
          .select(col("doc_id"), col("cluster_size"),
            expr("1000 div cluster_size").as("weight_permille"))
          .orderBy("doc_id")
      },
      Some(clusterOracle +
        """,sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize
          |        FROM cl GROUP BY 1)
          |SELECT d.doc_id, CAST(COALESCE(sz.csize, 1) AS BIGINT) AS cluster_size,
          |  CAST(1000 // COALESCE(sz.csize, 1) AS BIGINT) AS weight_permille
          |FROM documents d LEFT JOIN cl ON cl.node = d.doc_id
          |LEFT JOIN sz ON sz.cluster_id = cl.cluster_id
          |ORDER BY d.doc_id""".stripMargin)),

    // ---- canonical-per-cluster dedup: the corpus with every non-min
    //      member of each near-dup cluster removed — the actual
    //      "deduplicated output" a training pipeline writes. ----
    Q("dedup_keep_canonical",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val losers = graft.operators.Dedup
          .clusters(graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text"))
          .filter(col("node") =!= col("cluster_id"))
          .select(col("node").as("doc_id"))
        docs.join(losers, Seq("doc_id"), "left_anti")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some(clusterOracle +
        """SELECT doc_id, lang, source, n_chars FROM documents
          |WHERE doc_id NOT IN (SELECT node FROM cl WHERE node != cluster_id)
          |ORDER BY doc_id""".stripMargin)),

    // ---- QUALITY-AWARE dedup keeper: keep the BEST document per
    //      near-dup cluster (longest n_chars, ties to the lowest id)
    //      instead of the lowest-id canonical — the keeper rule
    //      production pipelines actually want (drop the truncated
    //      mirror, keep the full article). One struct-min per
    //      cluster over the cluster-keyed docs; unclustered docs are
    //      their own cluster and always survive. ----
    Q("dedup_keep_best",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val cl = graft.operators.Dedup
          .clusters(graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text"))
          .select(col("node").as("doc_id"), col("cluster_id"))
        val keyed = docs.select("doc_id", "n_chars")
          .join(cl, Seq("doc_id"), "left")
          .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
        val keepers = keyed.groupBy("cid")
          .agg(min(struct((-col("n_chars")).as("neg"), col("doc_id").as("id"))).as("k"))
          .select(col("k.id").as("doc_id"))
        docs.join(keepers, Seq("doc_id"), "left_semi")
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some(clusterOracle +
        """,keyed AS (SELECT d.doc_id, d.n_chars, COALESCE(cl.cluster_id, d.doc_id) AS cid
          |           FROM documents d LEFT JOIN cl ON cl.node = d.doc_id)
          |,keep AS (SELECT doc_id FROM (
          |    SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY cid
          |      ORDER BY n_chars DESC, doc_id) AS rn FROM keyed) WHERE rn = 1)
          |SELECT d.doc_id, lang, source, n_chars
          |FROM documents d JOIN keep k ON k.doc_id = d.doc_id
          |ORDER BY d.doc_id""".stripMargin)),

    // ---- leakage-safe train/val/test split: the split key is the
    //      near-dup CLUSTER label (own id when unclustered), so every
    //      member of a near-dup cluster lands in ONE split — the eval
    //      hygiene step that stops a val document's near-duplicate
    //      from sitting in train. Composition of the dedup decision
    //      tier with the deterministic hash split; the oracle replays
    //      the WITH RECURSIVE clustering and the same split
    //      arithmetic. ----
    Q("sample_split_leakage_safe",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val cl = graft.operators.Dedup
          .clusters(graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text"))
          .select(col("node").as("doc_id"), col("cluster_id"))
        val keyed = docs.select("doc_id").join(cl, Seq("doc_id"), "left")
          .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
        graft.operators.Sampling.hashSplit(keyed, "split_key",
            Seq("train" -> 80, "val" -> 10, "test" -> 10),
            bucketExpr = Some(pmod(col("split_key") * 1103515245L + 12345L, lit(100L))))
          .select("doc_id", "split_key", "split")
          .orderBy("doc_id")
      },
      Some(clusterOracle +
        """,keyed AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS split_key
          |           FROM documents d LEFT JOIN cl ON cl.node = d.doc_id)
          |SELECT doc_id, split_key,
          |  CASE WHEN (split_key * 1103515245 + 12345) % 100 < 80 THEN 'train'
          |       WHEN (split_key * 1103515245 + 12345) % 100 < 90 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM keyed ORDER BY doc_id""".stripMargin)),

    // ---- leakage-safe K-FOLD assignment (cross-validation's split
    //      shape): every near-dup cluster lands WHOLE in one of 5
    //      folds — fold = LCG(cluster key) mod 5, so fold sizes are
    //      hash-balanced and a held-out fold never shares a near-dup
    //      with its training folds (the same guarantee the
    //      train/val/test split gives, extended to rotation). ----
    Q("sample_kfold_leakage_safe",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val cl = graft.operators.Dedup
          .clusters(graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text"))
          .select(col("node").as("doc_id"), col("cluster_id"))
        docs.select("doc_id").join(cl, Seq("doc_id"), "left")
          .withColumn("split_key", coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("fold",
            pmod(col("split_key") * 1103515245L + 12345L, lit(5L)))
          .select("doc_id", "split_key", "fold")
          .orderBy("doc_id")
      },
      Some(clusterOracle +
        """,keyed AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS split_key
          |           FROM documents d LEFT JOIN cl ON cl.node = d.doc_id)
          |SELECT doc_id, split_key,
          |  (split_key * 1103515245 + 12345) % 5 AS fold
          |FROM keyed ORDER BY doc_id""".stripMargin)),

    // ---- incremental near-dedup: a fresh batch (doc_id % 10 = 0)
    //      joined against the corpus LSH sketch — cost scales with the
    //      batch, not the corpus (sketch is materializable:
    //      Dedup.signatureBandRows). Exact-verified, so the exact
    //      cross-set Jaccard is a full oracle. ----
    Q("dedup_incremental",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        graft.operators.Dedup.incrementalNearDups(
            docs.filter(col("doc_id") % 10 =!= 0),
            docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text")
          .orderBy("corpus_id", "fresh_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
             |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
             |common AS (SELECT a.doc_id AS corpus_id, b.doc_id AS fresh_id, COUNT(*) AS n_common
             |           FROM sh a JOIN sh b ON a.shingle = b.shingle
             |           WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
             |           GROUP BY 1, 2)
             |SELECT corpus_id, fresh_id, n_common, sa.n_sh AS na, sb.n_sh AS nb
             |FROM common JOIN sizes sa ON sa.doc_id = corpus_id
             |            JOIN sizes sb ON sb.doc_id = fresh_id
             |WHERE n_common * 10 >= (sa.n_sh + sb.n_sh - n_common) * 7
             |ORDER BY corpus_id, fresh_id""".stripMargin)),

    // ---- SimHash near-dup candidates (Hamming <= 3 on 64-bit
    //      token-set fingerprints). Hash-dependent, so no SQL oracle —
    //      the driver records the weaker rows-only check; the ScalaTest
    //      suite asserts consistency against exact duplicates. ----
    Q("dedup_simhash_pairs",
      (s, dir) => graft.operators.Dedup
        .simhashNearDups(
          graft.operators.Dedup.simhash(Tables.t(s, dir, "documents"), "doc_id", "text"),
          "doc_id")
        .orderBy("doc_a", "doc_b"),
      None),

    // ---- SimHash exactness-by-construction twin: identical texts get
    //      identical fingerprints, hence hamming 0 and (pigeonhole) a
    //      guaranteed chunk collision — so filtering the SimHash
    //      pipeline's output to hamming == 0 AND equal text yields
    //      EXACTLY the identical-text pairs, which the oracle computes
    //      as a plain text self-join. Pins fingerprint determinism,
    //      chunk-bucket candidate completeness for exact dups, and the
    //      pair expansion; dedup_simhash_pairs stays the approximate
    //      production form (hamming <= 3). ----
    Q("dedup_simhash_identical",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        val corpus = docs.union(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        val pairs = graft.operators.Dedup.simhashNearDups(
          graft.operators.Dedup.simhash(corpus, "doc_id", "text"), "doc_id")
        val t = corpus.select(col("doc_id"), col("text"))
        pairs.filter(col("hamming") === 0)
          .join(t.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
          .join(t.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
          .filter(col("ta") === col("tb"))
          .select("doc_a", "doc_b")
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH c AS (SELECT doc_id, text FROM documents
             |          UNION ALL SELECT doc_id + 100000, text FROM documents)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             |FROM c a JOIN c b ON a.text = b.text AND a.doc_id < b.doc_id
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- CODE-vs-PROSE routing classifier: the pipeline fork that
    //      decides whether a doc goes to the code tokenizer/quality
    //      battery or the prose one. Deterministic code snippets are
    //      seeded into every 10th doc (the synthetic corpus is pure
    //      prose — the pii-density seeding discipline); detection =
    //      >= 2 of 3 code-only keyword signals, plus a symbol-density
    //      permille ({};()= chars) reported per source via the
    //      length-after-strip idiom, which both engines compute
    //      identically. Map-only regex work; one enum-sized
    //      per-source aggregate. ----
    Q("text_code_detect",
      (s, dir) => {
        val seeded = Tables.t(s, dir, "documents")
          .withColumn("t",
            when(col("doc_id") % 10 === 4,
              concat(col("text"), lit(" def run(x): { return (x = x + 1); }; import sys;")))
            .otherwise(col("text")))
          .withColumn("sym",
            length(col("t")) - length(regexp_replace(col("t"), "[;{}()=]", "")))
          .withColumn("kw",
            when(col("t").contains("def "), 1).otherwise(0)
              + when(col("t").contains("import "), 1).otherwise(0)
              + when(col("t").contains("};"), 1).otherwise(0))
        seeded.groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("kw") >= 2, 1L).otherwise(0L)).as("n_code"),
            sum(col("sym").cast("long")).as("_sym"),
            sum(length(col("t")).cast("long")).as("_len"))
          .select(col("source"), col("n_docs"), col("n_code"),
            expr("(1000 * _sym) div _len").as("sym_pm"))
          .orderBy("source")
      },
      Some("""WITH seeded AS (SELECT source,
             |  CASE WHEN doc_id % 10 = 4
             |    THEN text || ' def run(x): { return (x = x + 1); }; import sys;'
             |    ELSE text END AS t FROM documents),
             |m AS (SELECT source, t,
             |  length(t) - length(regexp_replace(t, '[;{}()=]', '', 'g')) AS sym,
             |  (CASE WHEN t LIKE '%def %' THEN 1 ELSE 0 END
             |   + CASE WHEN t LIKE '%import %' THEN 1 ELSE 0 END
             |   + CASE WHEN t LIKE '%};%' THEN 1 ELSE 0 END) AS kw
             |FROM seeded)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN kw >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_code,
             |  CAST((1000 * SUM(sym)) // SUM(length(t)) AS BIGINT) AS sym_pm
             |FROM m GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- prefix-hash dedup (the RefinedWeb/CC "same first N chars"
    //      pass): crawl snapshots re-serve the same page under new
    //      trailing boilerplate, so an exact-hash pass over a FIXED
    //      PREFIX catches re-crawls that whole-document hashing
    //      misses. Only 16-byte digests shuffle (the md5 of the
    //      128-char prefix, computed where the docs live); keeper is
    //      min doc_id, the deterministic-keeper convention. ----
    Q("dedup_doc_prefix",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id"), md5(substring(col("text"), 1, 128)).as("pfx"))
        .groupBy("pfx")
        .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_docs"))
        .filter(col("n_docs") > 1)
        .select("keeper_id", "n_docs")
        .orderBy("keeper_id"),
      Some("""SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs
             |FROM documents GROUP BY md5(substr(text, 1, 128))
             |HAVING COUNT(*) > 1 ORDER BY 1""".stripMargin)),

    // ---- SimHash with a PORTABLE bit source: same sign-of-bit-sums
    //      fingerprint algebra as dedup_simhash_pairs, but per-token
    //      bits come from md5 — which DuckDB computes identically — so
    //      the full near-dup join (banding + Hamming <= 3 verify) is
    //      pinned against the quadratic all-pairs oracle. Upgrades
    //      the SimHash family from rows-only to oracle-backed; the
    //      xxhash64 form stays the production fast path. ----
    Q("dedup_simhash_md5_pairs",
      (s, dir) => graft.operators.Dedup
        .simhashMd5NearDups(
          graft.operators.Dedup.simhashMd5(Tables.t(s, dir, "documents"), "doc_id", "text"),
          "doc_id")
        .orderBy("doc_a", "doc_b"),
      Some("""WITH toks AS (
             |  SELECT DISTINCT d.doc_id, t.tok
             |  FROM documents d,
             |       UNNEST(string_split_regex(lower(d.text), '[^a-z0-9]+')) AS t(tok)
             |  WHERE t.tok <> ''
             |),
             |bits AS (
             |  SELECT doc_id, p.p AS p,
             |    SUM(CASE WHEN ((strpos('0123456789abcdef',
             |                          substr(md5(tok), 1 + p.p // 4, 1)) - 1)
             |                   >> (3 - p.p % 4)) & 1 = 1
             |        THEN 1 ELSE -1 END) AS s
             |  FROM toks, (SELECT unnest(range(0, 64)) AS p) p
             |  GROUP BY 1, 2
             |),
             |fps AS (
             |  SELECT doc_id,
             |    SUM(CASE WHEN s > 0 AND p >= 32
             |        THEN (CAST(1 AS BIGINT) << CAST(p - 32 AS INT)) ELSE 0 END) AS fp_hi,
             |    SUM(CASE WHEN s > 0 AND p < 32
             |        THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS fp_lo
             |  FROM bits GROUP BY 1
             |)
             |SELECT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b,
             |  CAST(bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
             |FROM fps a JOIN fps b ON a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- global sentence-level dedup (C4-style boilerplate removal):
    //      every repeated sentence keeps ONLY its first occurrence
    //      (min (doc_id, pos) across the whole corpus); documents are
    //      rebuilt from their surviving sentences. Plan: one shuffle
    //      on the sentence key (high-cardinality, uniform), one
    //      rebuild groupBy per doc — no self-join. ----
    Q("dedup_lines",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val lines = docs.select(col("doc_id"),
          posexplode(split(col("text"), "\\. ")).as(Seq("pos", "line")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("line").orderBy("doc_id", "pos")
        val kept = lines.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        val rebuilt = kept.groupBy("doc_id")
          .agg(
            array_join(transform(array_sort(collect_list(struct(col("pos"), col("line")))),
              x => x.getField("line")), ". ").as("text_dedup"),
            count(lit(1)).as("n_kept"))
        docs.select("doc_id").join(rebuilt, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("text_dedup"), lit("")).as("text_dedup"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"))
          .orderBy("doc_id")
      },
      Some("""WITH sp AS (SELECT doc_id, string_split(text, '. ') AS s FROM documents),
             |l AS (SELECT doc_id, i AS pos, s[i] AS line
             |      FROM (SELECT doc_id, s, unnest(generate_series(1, len(s))) AS i FROM sp)),
             |k AS (SELECT doc_id, pos, line,
             |        ROW_NUMBER() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rk FROM l),
             |r AS (SELECT doc_id, string_agg(line, '. ' ORDER BY pos) AS text_dedup,
             |        COUNT(*) AS n_kept
             |      FROM k WHERE rk = 1 GROUP BY doc_id)
             |SELECT d.doc_id AS doc_id, COALESCE(r.text_dedup, '') AS text_dedup,
             |  COALESCE(r.n_kept, 0) AS n_kept
             |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ---- TF-IDF keyword extraction: top-3 tokens per document by
    //      tf * N / df (a rational idf proxy — ln() is libm-dependent
    //      and would drift between engines at the last ulp, killing
    //      the hash gate; monotone in the same ranking for fixed tf).
    //      Ties broken by token for determinism. ----
    Q("tfidf_keywords",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val tf = docs
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        // tf rows are distinct (doc, token), so count(*) = doc frequency
        val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        tf.join(dfreq, "token")
          .crossJoin(broadcast(nDocs))
          .withColumn("score", col("tf") * col("n_docs") / col("df"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
              .orderBy(desc("score"), asc("token"))))
          .filter(col("rk") <= 3)
          .select("doc_id", "token", "tf", "df", "score", "rk")
          .orderBy("doc_id", "rk")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM t GROUP BY 1, 2),
             |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT COUNT(*) AS n_docs FROM documents)
             |SELECT doc_id, token, tf, df, score, rk FROM (
             |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
             |    CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
             |      ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / df.df DESC, tf.token) AS INTEGER) AS rk
             |  FROM tf JOIN df USING (token) CROSS JOIN n)
             |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),

    // ---- URL parsing (the web-corpus provenance step): the corpus
    //      has no URL column, so the query plants deterministic
    //      source URLs per doc (same move as pii_scrub) and extracts
    //      host / path / query-param via Spark's parse_url —
    //      cell-compared against a regex oracle, which pins
    //      parse_url's semantics externally. Domain-level counts are
    //      the blocklist-filter shape. ----
    // ---- winnowing fingerprints (Schleimer et al. SIGMOD'03 — the
    //      MOSS local-similarity algorithm, public, re-derived):
    //      hash every 3-gram shingle IN SEQUENCE (polynomial char
    //      fold mod 1e9+7 — the repo's standard cross-engine hash),
    //      slide a w=4 window over the hash sequence, keep each
    //      window's minimum (ties to the RIGHTMOST, the standard
    //      rule), dedup. Guarantees every shared substring of
    //      >= w+2 tokens contributes a shared fingerprint — the
    //      LOCAL-overlap detector whole-doc hashes and set-Jaccard
    //      both miss. The (min-hash, rightmost-tie) pick runs as ONE
    //      integer MIN per window: key = h·2^20 + (2^20−1−i), so
    //      min(key) = min h then max i — no struct aggregation, no
    //      second window pass. Per-doc windows only; corpus-scale
    //      cost is one explode + one bounded window. ----
    Q("text_winnow_fingerprints",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("i").rowsBetween(-3, 0)
        Tables.t(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .select(col("doc_id"),
            // IN-ORDER shingle sequence with duplicates — winnowing is
            // positional, so the distinct wordShingles kernel doesn't
            // apply (same short-doc guard as text_bigram_topk)
            posexplode(expr(
              "CASE WHEN size(w) >= 3 THEN transform(sequence(1, size(w) - 2)," +
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', element_at(w, i + 2))) " +
                "ELSE array() END")).as(Seq("i0", "shingle")))
          .withColumn("i", col("i0").cast(LongType) + 1L)
          .withColumn("h", expr(
            "aggregate(transform(sequence(1, length(shingle)), " +
              "j -> CAST(ascii(substring(shingle, j, 1)) AS BIGINT)), " +
              "0L, (a, x) -> (a * 31 + x) % 1000000007)"))
          .withColumn("key", col("h") * 1048576L + (lit(1048575L) - col("i")))
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("i")))
          .withColumn("sel", min("key").over(w))
          .filter(col("rn") >= 4)
          .select(col("doc_id"),
            expr("sel div 1048576").as("fp"),
            (lit(1048575L) - expr("sel % 1048576")).as("pos"))
          .distinct()
          .orderBy("doc_id", "pos")
      },
      Some("""WITH sh AS (SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             |      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
             |            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
             |h AS (SELECT doc_id, i,
             |        list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          [CAST(ascii(substr(shingle, j + 1, 1)) AS BIGINT)
             |           FOR j IN range(length(shingle))]),
             |          (a, x) -> (a * 31 + x) % 1000000007) AS hv
             |      FROM sh),
             |k AS (SELECT doc_id, i, hv * 1048576 + (1048575 - i) AS key,
             |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn
             |      FROM h),
             |sel AS (SELECT doc_id,
             |          MIN(key) OVER (PARTITION BY doc_id ORDER BY i
             |                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
             |        FROM k WHERE TRUE QUALIFY rn >= 4)
             |SELECT DISTINCT doc_id, sel // 1048576 AS fp,
             |  1048575 - sel % 1048576 AS pos
             |FROM sel ORDER BY doc_id, pos""".stripMargin)),

    // ---- the MOSS match stage over the winnowing fingerprints:
    //      document pairs sharing >= 2 DISTINCT selected fingerprints
    //      — local plagiarism/boilerplate overlap detection. The join
    //      key is the fingerprint (selected hashes are ~2/(w+1) of
    //      the shingles, so the posting lists this joins are already
    //      winnowed down); support counts distinct shared values so a
    //      repeated selection inside one doc can't inflate a pair. ----
    Q("text_winnow_overlaps",
      (s, dir) => {
        val fps = Queries.queries("text_winnow_fingerprints")(s, dir)
          .select(col("doc_id"), col("fp")).distinct()
        val a = fps.select(col("doc_id").as("doc_a"), col("fp"))
        val b = fps.select(col("doc_id").as("doc_b"), col("fp"))
        a.join(b, Seq("fp"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= 2)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH sh AS (SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             |      FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
             |            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))),
             |h AS (SELECT doc_id, i,
             |        list_reduce(list_prepend(CAST(0 AS BIGINT),
             |          [CAST(ascii(substr(shingle, j + 1, 1)) AS BIGINT)
             |           FOR j IN range(length(shingle))]),
             |          (a, x) -> (a * 31 + x) % 1000000007) AS hv
             |      FROM sh),
             |k AS (SELECT doc_id, i, hv * 1048576 + (1048575 - i) AS key,
             |        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS rn
             |      FROM h),
             |sel AS (SELECT doc_id,
             |          MIN(key) OVER (PARTITION BY doc_id ORDER BY i
             |                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
             |        FROM k WHERE TRUE QUALIFY rn >= 4),
             |fp AS (SELECT DISTINCT doc_id, sel // 1048576 AS fp FROM sel)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
             |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING COUNT(*) >= 2
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // ---- Gini inequality of document lengths per source, EXACT: the
    //      domain-concentration audit (is one source dominated by a
    //      few huge documents?) via the sorted-rank identity
    //      G = Σ(2i−n−1)·x_i / (n·Σx), reported as an integral
    //      permille — every term is BIGINT, and the sum is invariant
    //      under permutation of tied lengths, so the window rank's
    //      tie order never leaks into the result. One window rank +
    //      one aggregation; no quadratic |x_i − x_j| form. ----
    Q("text_readability",
      (s, dir) => {
        // Flesch reading-ease in exact integer micros: words = non-
        // empty space splits, sentences = '. ' splits (>= 1), the
        // syllable proxy = vowel GROUPS of the lowercased text (every
        // engine's regexp_replace collapses [aeiou]+ to one marker;
        // chr(1) can never appear in the corpus). Per-doc integral
        // divisions make the score engine-identical — the readability
        // quality feature beside length/punct/stopword ratios.
        val marked = regexp_replace(lower(col("text")), "[aeiou]+", "\u0001")
        Tables.t(s, dir, "documents")
          .select(col("doc_id"),
            size(expr("filter(split(text, ' '), t -> t != '')")).cast("long").as("n_words"),
            size(split(col("text"), "\\. ")).cast("long").as("n_sentences"),
            (length(marked) - length(regexp_replace(marked, "\u0001", "")))
              .cast("long").as("n_syllables"))
          .filter(col("n_words") > 0)
          .withColumn("flesch_micro",
            lit(206835000L) - expr("(1015000 * n_words) div n_sentences")
              - expr("(84600000 * n_syllables) div n_words"))
          .orderBy("doc_id")
      },
      Some("""WITH m AS (SELECT doc_id,
             |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_words,
             |    CAST(len(string_split(text, '. ')) AS BIGINT) AS n_sentences,
             |    CAST(length(regexp_replace(lower(text), '[aeiou]+', chr(1), 'g'))
             |      - length(replace(regexp_replace(lower(text), '[aeiou]+', chr(1), 'g'),
             |                       chr(1), '')) AS BIGINT) AS n_syllables
             |  FROM documents)
             |SELECT doc_id, n_words, n_sentences, n_syllables,
             |  CAST(206835000 - (1015000 * n_words) // n_sentences
             |    - (84600000 * n_syllables) // n_words AS BIGINT) AS flesch_micro
             |FROM m WHERE n_words > 0 ORDER BY doc_id""".stripMargin)),

    // ---- CORPUS HEALTH REPORT: the one-page (metric, value) summary
    //      a training-data owner reads before a run — doc/token/char
    //      totals, exact-duplicate docs (md5 content key), short-doc
    //      count, and the per-language mix as lang:<code> rows. One
    //      corpus scan for the scalar block (a single aggregation
    //      unpivoted via stack) + one lang groupBy; every value an
    //      exact BIGINT. ----
    Q("corpus_health_report",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val scalars = docs.agg(
            count(lit(1)).as("n_docs"),
            sum(size(expr("filter(split(text, ' '), t -> t != '')")).cast("long")).as("n_tokens"),
            sum(length(col("text")).cast("long")).as("n_chars"),
            (count(lit(1)) - countDistinct(md5(col("text")))).as("exact_dup_docs"),
            sum(when(size(expr("filter(split(text, ' '), t -> t != '')")) < 50, 1L)
              .otherwise(0L)).as("short_docs_lt50"))
          .select(expr(
            "stack(5, 'n_docs', n_docs, 'n_tokens', n_tokens, 'n_chars', n_chars, " +
              "'exact_dup_docs', exact_dup_docs, 'short_docs_lt50', short_docs_lt50) " +
              "AS (metric, value)"))
        val langs = docs.groupBy(concat(lit("lang:"), col("lang")).as("metric"))
          .agg(count(lit(1)).as("value"))
        scalars.unionByName(langs).orderBy("metric")
      },
      Some("""WITH s AS (
             |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS n_tokens,
             |    CAST(SUM(length(text)) AS BIGINT) AS n_chars,
             |    CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS exact_dup_docs,
             |    CAST(SUM(CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) < 50
             |             THEN 1 ELSE 0 END) AS BIGINT) AS short_docs_lt50
             |  FROM documents)
             |SELECT metric, value FROM (
             |  SELECT 'n_docs' AS metric, n_docs AS value FROM s
             |  UNION ALL SELECT 'n_tokens', n_tokens FROM s
             |  UNION ALL SELECT 'n_chars', n_chars FROM s
             |  UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM s
             |  UNION ALL SELECT 'short_docs_lt50', short_docs_lt50 FROM s
             |  UNION ALL SELECT 'lang:' || lang, CAST(COUNT(*) AS BIGINT)
             |            FROM documents GROUP BY lang) t
             |ORDER BY metric""".stripMargin)),

    Q("text_gini_lengths",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
        Tables.t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("i", row_number().over(w).cast(LongType))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("source")))
          .groupBy("source")
          // gnum ~ n_docs·total_chars (~1e23 at a 1e9-doc source) and the
          // n_docs·total_chars divisor both clear 2^63 long before 100 TB:
          // the sum and the product ride DECIMAL(38,0) (DuckDB side HUGEINT).
          .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
            sum(((lit(2L) * col("i") - col("n") - 1L) * col("n_chars"))
              .cast("decimal(38,0)")).as("gnum"))
          .withColumn("gini_permille",
            expr("CAST(gnum * 1000 div (CAST(n_docs AS DECIMAL(38,0)) * total_chars) AS BIGINT)"))
          .select("source", "n_docs", "total_chars", "gini_permille")
          .orderBy("source")
      },
      Some("""WITH r AS (SELECT source, n_chars,
             |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS i,
             |    COUNT(*) OVER (PARTITION BY source) AS n
             |  FROM documents)
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             |  CAST(CAST(SUM(CAST((2 * i - n - 1) * n_chars AS HUGEINT)) AS HUGEINT) * 1000
             |       // (CAST(COUNT(*) AS HUGEINT) * SUM(n_chars)) AS BIGINT) AS gini_permille
             |FROM r GROUP BY source ORDER BY source""".stripMargin)),

    // ---- Gini-Simpson vocabulary diversity per source, EXACT: the
    //      repetition/diversity quality signal 1 − Σp_i² as an
    //      integral permille — a Shannon entropy would drag in
    //      engine-ordered float logs, while Σc_i² / N² is pure
    //      BIGINT rationals. Two aggregations, both map-side
    //      combinable; the token counts collapse to the vocabulary
    //      before the per-source reduce. ----
    Q("text_diversity_simpson",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .groupBy("source")
        // c² wraps 2^63 when one token's count passes ~3e9 ("the" in a web
        // corpus) and n_tokens² at n_tokens > ~3e9: both the per-term square
        // and the divisor ride DECIMAL(38,0) (DuckDB side HUGEINT).
        .agg(count(lit(1)).as("vocab"), sum("c").as("n_tokens"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("sumsq"))
        .withColumn("simpson_permille",
          expr("CAST(1000 - sumsq * 1000" +
            " div (CAST(n_tokens AS DECIMAL(38,0)) * n_tokens) AS BIGINT)"))
        .select("source", "vocab", "n_tokens", "simpson_permille")
        .orderBy("source"),
      Some("""WITH c AS (SELECT source, tok, COUNT(*) AS c FROM (
             |    SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
             |  GROUP BY 1, 2)
             |SELECT source, COUNT(*) AS vocab, CAST(SUM(c) AS BIGINT) AS n_tokens,
             |  CAST(1000 - CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) * 1000
             |       // (CAST(SUM(c) AS HUGEINT) * CAST(SUM(c) AS HUGEINT)) AS BIGINT) AS simpson_permille
             |FROM c GROUP BY source ORDER BY source""".stripMargin)),

    Q("url_domain_stats",
      (s, dir) => Tables.t(s, dir, "documents")
        .withColumn("url", concat(
          lit("https://host"), (col("doc_id") % 50).cast("string"),
          lit(".example.com/docs/"), col("doc_id").cast("string"),
          lit("?lang="), col("lang")))
        .withColumn("host", parse_url(col("url"), lit("HOST")))
        .withColumn("path", parse_url(col("url"), lit("PATH")))
        .withColumn("qlang", parse_url(col("url"), lit("QUERY"), lit("lang")))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("qlang").as("n_langs"),
          min("path").as("first_path"))
        .orderBy("host"),
      Some("""WITH u AS (SELECT doc_id, lang,
             |  'https://host' || CAST(doc_id % 50 AS VARCHAR) ||
             |  '.example.com/docs/' || CAST(doc_id AS VARCHAR) ||
             |  '?lang=' || lang AS url FROM documents),
             |p AS (SELECT
             |  regexp_extract(url, '^https://([^/]+)/', 1) AS host,
             |  regexp_extract(url, '^https://[^/]+(/[^?]*)', 1) AS path,
             |  regexp_extract(url, 'lang=(\w+)', 1) AS qlang FROM u)
             |SELECT host, COUNT(*) AS n_docs,
             |  COUNT(DISTINCT qlang) AS n_langs, MIN(path) AS first_path
             |FROM p GROUP BY host ORDER BY host""".stripMargin)),

    // ---- exact heavy hitters via Misra-Gries candidates + bounded
    //      recount: tokens covering > 2% of all occurrences. The
    //      sketch (custom TypedImperativeAggregate, <= k-entry state)
    //      guarantees candidate completeness; the recount shuffles at
    //      most k keys — never the vocabulary. The oracle computes the
    //      same set the exhaustive way, pinning exactness. ----
    Q("token_heavy_hitters",
      (s, dir) => graft.operators.HeavyHitters.exactHeavyHitters(
          Tables.t(s, dir, "documents")
            .select(explode(split(col("text"), " ")).as("token")),
          col("token"), t = 50, sketchK = Some(128))
        .orderBy("key"),
      Some("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |SELECT token AS key, COUNT(*) AS cnt FROM t GROUP BY token
             |HAVING COUNT(*) * 50 > (SELECT COUNT(*) FROM t)
             |ORDER BY key""".stripMargin)),

    // ---- unigram-LM document scoring: the KenLM-perplexity proxy of
    //      a quality-filter stage. The corpus itself is the language
    //      model (token c/total), each document scores the SUM of its
    //      tokens' ln-probabilities — low scorers are the rare-token /
    //      off-distribution docs a filter drops. The per-token value is
    //      quantized to integer micros BEFORE the per-doc sum, so the
    //      aggregate is exact integer arithmetic — no float summation-
    //      order drift between engines (same discipline as the
    //      embedding queries' round(v*1000) convention). Scale: the
    //      vocab table is Zipf-bounded (millions of rows at 100 TB, not
    //      corpus-sized) — broadcastable; the token stream never
    //      shuffles twice. ----
    Q("score_unigram_logprob",
      (s, dir) => {
        val toks = Tables.t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val freq = toks.groupBy("token").agg(count(lit(1)).as("c"))
        val tot = freq.agg(sum("c").as("t"))
        toks.join(broadcast(freq), "token")
          .crossJoin(broadcast(tot))
          .withColumn("lpm",
            round(log(col("c").cast("double") / col("t")) * 1e6).cast("long"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"), sum("lpm").as("lp_sum_micros"))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
             |f AS (SELECT token, COUNT(*) AS c FROM t GROUP BY 1),
             |tot AS (SELECT SUM(c) AS tt FROM f),
             |lp AS (SELECT doc_id,
             |  CAST(round(ln(CAST(c AS DOUBLE) / tt) * 1000000) AS BIGINT) AS lpm
             |  FROM t JOIN f USING (token) CROSS JOIN tot)
             |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(lpm) AS BIGINT) AS lp_sum_micros
             |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- content fingerprint via the custom codegen Expression;
    //      DuckDB reproduces the fold with list_reduce, pinning the
    //      custom expression's semantics externally. ----
    Q("doc_fingerprint",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Fingerprint.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |list_reduce(list_prepend(CAST(0 AS BIGINT),
             |  [unicode(c) FOR c IN string_split(text, '')]),
             |  (a, x) -> (a * 31 + x) % 1000000007) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- text normalization (corpus cleaning): lowercase, strip
    //      latin accents via an explicit finite map (no locale, no
    //      UDF — `translate` stays in codegen), collapse everything
    //      outside [a-z0-9 ] to spaces, squeeze runs, trim. The
    //      normalize-before-hash step in front of every dedup /
    //      decontamination pipeline; DuckDB replays the identical
    //      function chain. ----
    Q("text_normalize",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          trim(regexp_replace(regexp_replace(
            translate(lower(col("text")),
              "àáâãäåçèéêëìíîïñòóôõöùúûüýÿ", "aaaaaaceeeeiiiinooooouuuuyy"),
            "[^a-z0-9 ]", " "), " +", " ")).as("norm"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, trim(regexp_replace(regexp_replace(
             |  translate(lower(text),
             |    'àáâãäåçèéêëìíîïñòóôõöùúûüýÿ', 'aaaaaaceeeeiiiinooooouuuuyy'),
             |  '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- inverted-index keyword search (corpus curation's grep):
    //      docs containing ALL of {spark, merge, window} and NONE of
    //      {slow}. The scalable form: explode to DISTINCT (token,
    //      doc) postings, filter to the k query tokens BEFORE the
    //      shuffle (only candidate hits move), count-distinct == k
    //      for the conjunction, left-anti against the negative
    //      token's postings. The naive form — re-scan every document
    //      per predicate — is what the oracle states; at 100 TB the
    //      postings persist bucketed BY TOKEN (same fingerprint-keyed
    //      pattern as the bucketed join), so a query touches k token
    //      shards instead of the corpus. ----
    Q("text_keyword_search",
      (s, dir) => {
        val must = Seq("spark", "merge", "window")
        val mustNot = "slow"
        val docs = Tables.t(s, dir, "documents")
        val postings = docs.select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("token"))
        val hits = postings.filter(col("token").isin(must: _*))
          .groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
          .filter(col("n_terms") === must.size)
        val negative = postings.filter(col("token") === mustNot)
          .select("doc_id")
        hits.join(negative, Seq("doc_id"), "left_anti")
          .join(docs.select("doc_id", "lang", "source"), Seq("doc_id"))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE list_contains(string_split(text, ' '), 'spark')
             |  AND list_contains(string_split(text, ' '), 'merge')
             |  AND list_contains(string_split(text, ' '), 'window')
             |  AND NOT list_contains(string_split(text, ' '), 'slow')
             |ORDER BY doc_id""".stripMargin)),

    // ---- the same search served from the PERSISTED inverted index:
    //      postings bucketed by token (built once per corpus
    //      fingerprint), so the `token IN (...)` probe reads k of 64
    //      buckets via bucket pruning instead of re-tokenizing the
    //      corpus — the index amortizes across every query after the
    //      first. Identical semantics and oracle as the inline form;
    //      PlanSpec pins SelectedBucketsCount < 64. ----
    // ---- phrase search over POSITIONAL postings: "merge strategy"
    //      matches only where the tokens are ADJACENT — (token, doc,
    //      pos) postings for the two phrase terms, equi-joined on
    //      (doc, pos+1). The conjunctive index can't express
    //      adjacency; the positional form is what search engines
    //      store. Only the two terms' postings ever join (filtered
    //      before the shuffle, same candidate-pruning shape as the
    //      keyword search); the oracle counts the same token-level
    //      adjacency directly (consecutive-pair expansion — a
    //      substring LIKE would silently diverge if a regenerated
    //      vocab ever gained a token ending in "hash"). ----
    Q("text_phrase_search",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val pos = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        val first = pos.filter(col("token") === "hash")
          .select(col("doc_id"), col("pos"))
        val second = pos.filter(col("token") === "join")
          .select(col("doc_id").as("d2"), (col("pos") - 1).as("p2"))
        first.join(second,
            first("doc_id") === second("d2") && first("pos") === second("p2"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_matches"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |pairs AS (SELECT doc_id, w[i] AS t1, w[i+1] AS t2
             |          FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks))
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches FROM pairs
             |WHERE t1 = 'hash' AND t2 = 'join'
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("text_keyword_search_indexed",
      (s, dir) => {
        val must = Seq("spark", "merge", "window")
        val mustNot = "slow"
        // needs the BUCKETED scan (autoBucketedScan only weighs
        // exchange reuse — the agg keys on doc_id, not token — and
        // would silently drop the bucket-PRUNING benefit this index
        // exists for: k of 64 buckets read instead of all files).
        // autoBucketedScan.enabled=false is set ONCE at session
        // construction (GraftSession.local) — the r17 verdict
        // retired the per-gate sticky conf.set sites
        val postings = tokenPostingsTable(s, dir)
        val hits = postings.filter(col("token").isin(must: _*))
          .groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
          .filter(col("n_terms") === must.size)
        val negative = postings.filter(col("token") === mustNot).select("doc_id")
        hits.join(negative, Seq("doc_id"), "left_anti")
          .join(Tables.t(s, dir, "documents").select("doc_id", "lang", "source"),
            Seq("doc_id"))
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE list_contains(string_split(text, ' '), 'spark')
             |  AND list_contains(string_split(text, ' '), 'merge')
             |  AND list_contains(string_split(text, ' '), 'window')
             |  AND NOT list_contains(string_split(text, ' '), 'slow')
             |ORDER BY doc_id""".stripMargin)),

    // ---- BM25 RANKED retrieval served FROM the persisted index —
    //      the scoring shape a RAG/training-retrieval pipeline runs,
    //      not just the boolean match above. Okapi BM25 with k1=1.2,
    //      b=0.75 in the repo's integer-rational discipline: the
    //      index stores tf plus the document's length norm as exact
    //      permille (dl/avgdl = 1000·dl·D div L, quantized ONCE at
    //      build), idf quantizes to permille off the exact-rational
    //      log argument 2(D+1)/(2·df+1) (identical IEEE double on
    //      both engines before the one ln call), and each term's
    //      contribution is one BIGINT floor division
    //        (idf_pm · 22000·tf · 1000) div (10000·tf + 3000 + 9·norm_pm)
    //      — the k1/b constants cleared to integers (k1+1 = 11/5,
    //      k1(1-b) = 3/10, k1·b = 9/10, all ×10000). Scoring reads
    //      ONLY the 3 query terms' buckets (bucket pruning; norms
    //      ride inside the postings so no corpus-sized join), df is
    //      exact off those same buckets, and the top-10 is
    //      orderBy+limit (TakeOrderedAndProject — per-partition
    //      heaps). Fixed query terms => cost flat in corpus size.
    //      ROLE (r18): this is the ONE remaining rider of the static
    //      bm25IndexTables — kept deliberately as the
    //      static == maintained pin: it shares its oracle verbatim
    //      with text_bm25_incremental (the maintained index + the
    //      query-time-norm scorer), so both rankings are pinned
    //      equal through the shared ground truth every sweep. All
    //      production rankers (fusion legs, LM, NDCG eval, proximity)
    //      ride the maintained index. ----
    Q("text_bm25_topk",
      (s, dir) => {
        val terms = Seq("spark", "merge", "window")
        val (postings, stats) = bm25IndexTables(s, dir)
        val hits = postings.filter(col("token").isin(terms: _*))
        val idf = hits.groupBy("token").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(stats))
          .select(col("token"),
            round(log(lit(2.0) * (col("d") + 1) / (col("df") * 2 + 1)) * 1000)
              .cast("long").as("idf_pm"))
        hits.join(broadcast(idf), Seq("token"))
          .select(col("doc_id"),
            expr("(idf_pm * 22000 * tf * 1000) div (10000 * tf + 3000 + 9 * norm_permille)")
              .as("contrib"))
          .groupBy("doc_id")
          .agg(sum("contrib").as("score_micro"))
          .orderBy(desc("score_micro"), col("doc_id"))
          .limit(10)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
             |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS l FROM d),
             |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM (SELECT doc_id, unnest(w) AS token FROM toks)
             |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |idf AS (SELECT token,
             |          CAST(round(ln(2.0 * (s.nd + 1) / (df.df * 2 + 1)) * 1000) AS BIGINT) AS idf_pm
             |        FROM df CROSS JOIN stats s),
             |sc AS (SELECT tf.doc_id,
             |         (idf.idf_pm * 22000 * tf.tf * 1000)
             |           // (10000 * tf.tf + 3000 + 9 * ((1000 * d.dl * s.nd) // s.l)) AS contrib
             |       FROM tf JOIN idf USING (token) JOIN d USING (doc_id) CROSS JOIN stats s)
             |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micro
             |FROM sc GROUP BY 1
             |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- INCREMENTAL BM25 MAINTENANCE on the hard gate: the index
    //      builds on 6/7 of the corpus and the remaining 1/7 arrives
    //      as an APPEND — batch postings bucket-append (no existing
    //      posting rewritten: dl rides raw, so the corpus-total-
    //      dependent norm computes at query time off the upserted
    //      one-row stats; df derives from the pruned buckets, exact
    //      after any append). Ranking must equal the full rebuild —
    //      the text_bm25_topk oracle verbatim. ----
    Q("text_bm25_incremental",
      (s, dir) => {
        val (postings, stats) = bm25IncrementalTables(s, dir)
        bm25ScoreTerms(postings, stats, Seq("spark", "merge", "window"), 10)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
             |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS l FROM d),
             |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM (SELECT doc_id, unnest(w) AS token FROM toks)
             |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |idf AS (SELECT token,
             |          CAST(round(ln(2.0 * (s.nd + 1) / (df.df * 2 + 1)) * 1000) AS BIGINT) AS idf_pm
             |        FROM df CROSS JOIN stats s),
             |sc AS (SELECT tf.doc_id,
             |         (idf.idf_pm * 22000 * tf.tf * 1000)
             |           // (10000 * tf.tf + 3000 + 9 * ((1000 * d.dl * s.nd) // s.l)) AS contrib
             |       FROM tf JOIN idf USING (token) JOIN d USING (doc_id) CROSS JOIN stats s)
             |SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_micro
             |FROM sc GROUP BY 1
             |ORDER BY score_micro DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- FUZZY DECONTAMINATION: flag TRAINING docs that
    //      NEAR-duplicate any benchmark/eval item — the
    //      Dolma/FineWeb-class step the exact n-gram + Bloom
    //      decontaminators miss (a paraphrased or lightly-edited
    //      eval item shares most shingles but no exact 13-gram).
    //      Rides the incremental near-dup kernel with the EVAL set
    //      as the corpus side: eval banding + one (band, key)
    //      equi-join against the training side's band keys +
    //      exact-Jaccard verify on candidates only — at 100 TB the
    //      eval sketch is tiny and PERSISTED, so decontaminating a
    //      fresh crawl costs the crawl's banding pass, never
    //      eval × crawl. Oracle: the quadratic cross-split Jaccard
    //      join — one ground truth with the dedup family. ----
    Q("decontaminate_fuzzy",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        graft.operators.Dedup.incrementalNearDups(
            docs.filter(col("doc_id") % 5 === 0),  // the eval/benchmark set
            docs.filter(col("doc_id") % 5 =!= 0),  // the training corpus
            "doc_id", "text")
          .select(col("corpus_id").as("eval_id"), col("fresh_id").as("doc_id"),
            col("n_common"), col("na"), col("nb"))
          .orderBy("doc_id", "eval_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             |       FROM (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
             |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
             |common AS (SELECT a.doc_id AS eval_id, b.doc_id AS did, COUNT(*) AS n_common
             |           FROM sh a JOIN sh b ON a.shingle = b.shingle
             |            AND a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
             |           GROUP BY 1, 2)
             |SELECT eval_id, did AS doc_id, n_common,
             |  sa.n_sh AS na, sb.n_sh AS nb
             |FROM common JOIN sizes sa ON sa.doc_id = eval_id
             |            JOIN sizes sb ON sb.doc_id = did
             |WHERE n_common * 10 >= (sa.n_sh + sb.n_sh - n_common) * 7
             |ORDER BY doc_id, eval_id""".stripMargin)),

    // ---- DIRICHLET QUERY-LIKELIHOOD RANKING (Zhai & Lafferty 2001,
    //      public) — the second classical ranking family beside BM25,
    //      served off the SAME maintained incremental index (one
    //      index, two ranking models): score(q, d) =
    //      Σ_{t∈q∩d} ln((μ·ctf + tf·L) / (μ·ctf)) + |q|·ln(μ/(dl+μ))
    //      — the standard hit-term + length-prior decomposition, each
    //      ln over an EXACT integer ratio (μ=2000 integer; ctf = the
    //      term's corpus frequency summed off its own pruned bucket;
    //      L, dl from the maintained stats/postings), quantized once
    //      to micros so both engines agree bit-for-bit. Candidate
    //      convention stated: docs with >= 1 query-term hit rank
    //      (standard candidate retrieval); the length prior then
    //      reorders them exactly. Bucket pruning, broadcast
    //      metadata joins, TakeOrdered top-10 — the BM25 plan
    //      discipline verbatim. ----
    Q("text_lm_dirichlet_topk",
      (s, dir) => {
        val terms = Seq("spark", "merge", "window")
        val mu = 2000
        val (postings, stats) = bm25IncrementalTables(s, dir)
        val hits = postings.filter(col("token").isin(terms: _*))
        val ctf = hits.groupBy("token").agg(sum("tf").as("ctf"))
        hits.join(broadcast(ctf), Seq("token"))
          .crossJoin(broadcast(stats))
          .select(col("doc_id"), col("dl"),
            expr(s"CAST(round(ln(CAST($mu * ctf + tf * l AS DOUBLE)" +
              s" / CAST($mu * ctf AS DOUBLE)) * 1000000) AS BIGINT)").as("hit_micro"))
          .groupBy("doc_id", "dl")
          .agg(sum("hit_micro").as("hits_micro"))
          .select(col("doc_id"),
            (col("hits_micro") + lit(terms.size.toLong) *
              expr(s"CAST(round(ln(CAST($mu AS DOUBLE) / CAST(dl + $mu AS DOUBLE)) * 1000000) AS BIGINT)"))
              .as("score_micro"))
          .orderBy(desc("score_micro"), col("doc_id"))
          .limit(10)
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
             |stats AS (SELECT CAST(SUM(dl) AS BIGINT) AS l FROM d),
             |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM (SELECT doc_id, unnest(w) AS token FROM toks)
             |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |ctf AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1),
             |sc AS (SELECT tf.doc_id,
             |         CAST(round(ln(CAST(2000 * ctf.ctf + tf.tf * s.l AS DOUBLE)
             |           / CAST(2000 * ctf.ctf AS DOUBLE)) * 1000000) AS BIGINT) AS hit_micro
             |       FROM tf JOIN ctf USING (token) CROSS JOIN stats s),
             |agg AS (SELECT doc_id, CAST(SUM(hit_micro) AS BIGINT) AS hits_micro
             |        FROM sc GROUP BY 1)
             |SELECT agg.doc_id,
             |  CAST(hits_micro + 3 * CAST(round(ln(CAST(2000 AS DOUBLE)
             |    / CAST(d.dl + 2000 AS DOUBLE)) * 1000000) AS BIGINT) AS BIGINT) AS score_micro
             |FROM agg JOIN d ON d.doc_id = agg.doc_id
             |ORDER BY score_micro DESC, agg.doc_id LIMIT 10""".stripMargin)),

    // ---- PROXIMITY RANKING (minimal covering window): for every
    //      doc containing ALL three query terms, the smallest token
    //      window covering one occurrence of each — the classic
    //      proximity feature a ranker blends with BM25 ("terms near
    //      each other beat terms scattered"). Exact and relational:
    //      per-doc positional postings of the 3 terms 3-way equi-join
    //      ON THE DOC KEY (positions per doc are bounded, so the
    //      per-doc triple product is doc-local work, never corpus-
    //      quadratic), min over GREATEST−LEAST+1, and an integer
    //      permille proximity = 1000 div window. Conjunctive docs
    //      only (the candidate-retrieval convention — same as the
    //      phrase/keyword tier). ----
    Q("text_proximity_rank",
      (s, dir) => {
        val terms = Seq("spark", "merge", "window")
        val pos = Tables.t(s, dir, "documents")
          .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
          .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
          .filter(col("tok").isin(terms: _*))
          .checkpointed() // three join sides read it
        def side(t: String, n: Int) = pos.filter(col("tok") === t)
          .select(col("doc_id"), col("pos").as(s"p$n"))
        side(terms(0), 1)
          .join(side(terms(1), 2), "doc_id")
          .join(side(terms(2), 3), "doc_id")
          .select(col("doc_id"),
            (greatest(col("p1"), col("p2"), col("p3")) -
              least(col("p1"), col("p2"), col("p3")) + 1).as("w"))
          .groupBy("doc_id").agg(min("w").as("min_window"))
          .withColumn("prox_permille", expr("1000 div min_window"))
          .orderBy(col("min_window"), col("doc_id"))
      },
      Some("""WITH pos AS (
             |  SELECT doc_id, CAST(i AS BIGINT) AS pos, w[CAST(i AS INTEGER)] AS tok
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w,
             |          unnest(generate_series(1, len(string_split(text, ' ')))) AS i
             |        FROM documents)
             |  WHERE w[CAST(i AS INTEGER)] IN ('spark', 'merge', 'window')),
             |tri AS (SELECT a.doc_id,
             |          GREATEST(a.pos, b.pos, c.pos) - LEAST(a.pos, b.pos, c.pos) + 1 AS w
             |        FROM pos a
             |        JOIN pos b ON b.doc_id = a.doc_id AND b.tok = 'merge'
             |        JOIN pos c ON c.doc_id = a.doc_id AND c.tok = 'window'
             |        WHERE a.tok = 'spark')
             |SELECT doc_id, CAST(MIN(w) AS BIGINT) AS min_window,
             |  CAST(1000 // MIN(w) AS BIGINT) AS prox_permille
             |FROM tri GROUP BY doc_id
             |ORDER BY min_window, doc_id""".stripMargin)),

    // ---- RETRIEVAL QUALITY EVAL (NDCG@10): score the BM25 top-10
    //      against a binary relevance proxy (doc contains ALL three
    //      query terms) — the eval loop that closes the serving tier
    //      (index -> BM25 -> RRF -> measurement). Exactness: the
    //      rank discounts 1/log2(i+1) quantize ONCE to micro ints
    //      (one ln-ratio per spine row — the established one-ln
    //      idiom), so DCG/IDCG are exact BIGINT sums and NDCG is one
    //      permille floor division; ranks come from a broadcast
    //      count-of-better over the 10-row TakeOrdered frame (the
    //      RRF discipline — never an unpartitioned window). IDCG
    //      caps at min(10, |relevant|) — the ideal list puts every
    //      relevant doc first. Scale: everything downstream of the
    //      bucket-pruned BM25 scoring is metadata-sized (10-row
    //      frames, a 10-row weight spine, scalar totals). ----
    Q("text_bm25_ndcg",
      (s, dir) => {
        val terms = Seq("spark", "merge", "window")
        // the eval loop rides the MAINTAINED incremental index, like
        // every production ranker (VERDICT r17 #2) — bm25IndexTables
        // survives only as text_bm25_topk's static==maintained pin
        val (postings, stats) = bm25IncrementalTables(s, dir)
        val top = bm25ScoreTerms(postings, stats, terms, 10)
          .checkpointed() // both sides of the rank self-join read it
        val ranked = top.join(broadcast(
            top.select(col("doc_id").as("d2"), col("score_micro").as("s2"))),
            col("s2") > col("score_micro") ||
              (col("s2") === col("score_micro") && col("d2") < col("doc_id")),
            "left")
          .groupBy("doc_id").agg((count(col("d2")) + 1).as("rk"))
        // relevance proxy: conjunctive containment over the same index
        val relset = postings.filter(col("token").isin(terms: _*))
          .groupBy("doc_id").agg(count(lit(1)).as("nt"))
          .filter(col("nt") === terms.size).select("doc_id")
        val rtot = relset.agg(count(lit(1)).as("r"))
        val wts = s.range(1, 11).select(col("id").as("i"),
          expr("CAST(round(1000000 / (ln(CAST(id + 1 AS DOUBLE)) / ln(2.0))) AS BIGINT)")
            .as("w"))
        val dcg = ranked
          .join(relset.withColumn("rel", lit(1L)), Seq("doc_id"), "left")
          .join(broadcast(wts), col("rk") === col("i"))
          .agg(coalesce(sum(when(col("rel") === 1L, col("w"))), lit(0L)).as("dcg_micro"))
        val idcg = wts.crossJoin(broadcast(rtot))
          .agg(sum(when(col("i") <= least(lit(10L), col("r")), col("w"))
            .otherwise(lit(0L))).as("idcg_micro"))
        dcg.crossJoin(broadcast(idcg)).crossJoin(broadcast(rtot))
          .select(col("r").as("n_relevant"), col("dcg_micro"), col("idcg_micro"),
            // zero relevant docs => IDCG 0: a DEFINED 0 reading on
            // both engines (Spark div-by-0 nulls; DuckDB // 0 throws)
            when(col("idcg_micro") === 0L, lit(0L))
              .otherwise(expr("(1000 * dcg_micro) div idcg_micro"))
              .as("ndcg_permille"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |d AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM toks),
             |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(dl) AS BIGINT) AS l FROM d),
             |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             |       FROM (SELECT doc_id, unnest(w) AS token FROM toks)
             |       WHERE token IN ('spark', 'merge', 'window') GROUP BY 1, 2),
             |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |idf AS (SELECT token,
             |          CAST(round(ln(2.0 * (s.nd + 1) / (df.df * 2 + 1)) * 1000) AS BIGINT) AS idf_pm
             |        FROM df CROSS JOIN stats s),
             |sc AS (SELECT tf.doc_id,
             |         (idf.idf_pm * 22000 * tf.tf * 1000)
             |           // (10000 * tf.tf + 3000 + 9 * ((1000 * d.dl * s.nd) // s.l)) AS contrib
             |       FROM tf JOIN idf USING (token) JOIN d USING (doc_id) CROSS JOIN stats s),
             |r AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score FROM sc GROUP BY 1),
             |topk AS (SELECT doc_id, score,
             |           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk
             |         FROM r QUALIFY rk <= 10),
             |relset AS (SELECT doc_id FROM tf GROUP BY doc_id HAVING COUNT(*) = 3),
             |rtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS r FROM relset),
             |wts AS (SELECT i, CAST(round(1000000 / (ln(CAST(i + 1 AS DOUBLE)) / ln(2.0))) AS BIGINT) AS w
             |        FROM (SELECT unnest(generate_series(1, 10)) AS i)),
             |dcg AS (SELECT CAST(COALESCE(SUM(CASE WHEN topk.doc_id IN (SELECT doc_id FROM relset)
             |                 THEN w.w END), 0) AS BIGINT) AS dcg_micro
             |        FROM topk JOIN wts w ON w.i = topk.rk),
             |idcg AS (SELECT CAST(SUM(CASE WHEN w.i <= LEAST(10, rtot.r) THEN w.w ELSE 0 END) AS BIGINT)
             |           AS idcg_micro
             |         FROM wts w CROSS JOIN rtot)
             |SELECT rtot.r AS n_relevant, dcg.dcg_micro, idcg.idcg_micro,
             |  CAST(CASE WHEN idcg.idcg_micro = 0 THEN 0
             |       ELSE (1000 * dcg.dcg_micro) // idcg.idcg_micro END AS BIGINT) AS ndcg_permille
             |FROM dcg CROSS JOIN idcg CROSS JOIN rtot""".stripMargin)),

    // ---- STREAMING INVERTED-INDEX MAINTENANCE: the postings table
    //      kept current INCREMENTALLY as document batches arrive —
    //      the serving index a retrieval pipeline must never rebuild
    //      from scratch. Each micro-batch explodes its docs to
    //      (token, doc_id) rows and merges them into the bucketed
    //      parquet state via the keyed-upsert machinery; the layout
    //      buckets on TOKEN alone (bucketCols) so each term's
    //      postings land in one bucket — the same term-pruned serving
    //      shape as the batch index — while the merge key stays the
    //      full (token, doc_id) posting identity (duplicate
    //      deliveries collapse; re-sent docs are idempotent). The
    //      two-file/maxFilesPerTrigger=1 feed forces the index to be
    //      the union of genuinely separate batches; the oracle states
    //      the final conjunctive search over the whole corpus. ----
    // ---- STREAMING DUPLICATED-SPAN EXTRACTION: each micro-batch of
    //      the two id-parity feed halves emits ITS covered spans
    //      against everything seen so far — the persisted state is
    //      the appended gram-summary table (existence is the only
    //      cross-batch test, so per-batch summaries never merge). The
    //      oracle states the arrival-time visibility rule verbatim:
    //      doc a's position is covered iff some OTHER doc b with
    //      b's batch <= a's batch shares the gram (batch = doc_id
    //      parity; even arrives first). An even doc that becomes
    //      boilerplate only because an odd copy arrived later is
    //      deliberately NOT re-emitted — that's the full-rebuild
    //      text_dup_spans pass's job. ----
    Q("text_stream_dup_spans",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_stream_ds_")
        val src = work.resolve("src")
        java.nio.file.Files.createDirectory(src)
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        Seq(0, 1).foreach { h =>
          val half = work.resolve(s"h$h").toString
          docs.filter(col("doc_id") % 2 === h).coalesce(1).write.parquet(half)
          val part = new java.io.File(half).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file under $half"))
          val staged = src.resolve(s"h$h.parquet")
          java.nio.file.Files.move(part.toPath, staged)
          java.nio.file.Files.setLastModifiedTime(staged,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - (1 - h) * 10000L))
        }
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        graft.streaming.EventStreams.dupSpanStream(s, stream,
            work.resolve("out").toString, work.resolve("state").toString,
            work.resolve("ckpt").toString, k = 3, minTokens = 5)
          .orderBy("doc_id", "start_pos")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
             |        array_to_string(w[CAST(i AS INTEGER):CAST(i + 2 AS INTEGER)], ' ') AS gram
             |      FROM (SELECT doc_id, w,
             |              unnest(generate_series(1, len(w) - 2)) AS i FROM toks)),
             |cov AS (SELECT DISTINCT a.doc_id, a.pos
             |        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
             |                         AND b.doc_id % 2 <= a.doc_id % 2),
             |isl AS (SELECT doc_id, pos,
             |          pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS i
             |        FROM cov)
             |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_pos,
             |  CAST(COUNT(*) + 2 AS BIGINT) AS n_tokens
             |FROM isl GROUP BY doc_id, i
             |HAVING COUNT(*) + 2 >= 5
             |ORDER BY doc_id, start_pos""".stripMargin)),

    // ---- STREAMING MinHash NEAR-DEDUP: the dedup flagship's
    //      continuous-ingestion form — corpus sketch + docs persist
    //      as state, each micro-batch probes the sketch for
    //      cross-batch pairs (exact-Jaccard-verified against ONLY the
    //      candidate corpus docs), finds its internal pairs, and
    //      appends itself into the state; a pair emits exactly once,
    //      when its later member arrives. Two id-parity batches make
    //      the boundary real: even↔odd pairs MUST flow through the
    //      persisted sketch. The union of batch outputs equals the
    //      one-shot minhashNearDups, so the gate rides the SAME
    //      exact-Jaccard quadratic oracle as dedup_minhash_pairs —
    //      one ground truth, now four execution strategies (exact
    //      prefix join, one-shot LSH, incremental batch, streamed). ----
    Q("text_stream_neardup",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_stream_nd_")
        val src = work.resolve("src")
        java.nio.file.Files.createDirectory(src)
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        Seq(0, 1).foreach { h =>
          val half = work.resolve(s"h$h").toString
          docs.filter(col("doc_id") % 2 === h).coalesce(1).write.parquet(half)
          val part = new java.io.File(half).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file under $half"))
          val staged = src.resolve(s"h$h.parquet")
          java.nio.file.Files.move(part.toPath, staged)
          java.nio.file.Files.setLastModifiedTime(staged,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - (1 - h) * 10000L))
        }
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        graft.streaming.EventStreams.nearDupStream(s, stream,
            work.resolve("out").toString, work.resolve("state").toString,
            work.resolve("ckpt").toString)
          .orderBy("doc_a", "doc_b")
      },
      Some(jaccardOracle)),

    Q("text_stream_index_update",
      (s, dir) => {
        val work = CacheDirs.tempWorkDir("graft_stream_tix_")
        val src = work.resolve("src")
        java.nio.file.Files.createDirectory(src)
        val docs = Tables.t(s, dir, "documents").select("doc_id", "text")
        Seq(0, 1).foreach { h =>
          val half = work.resolve(s"h$h").toString
          docs.filter(col("doc_id") % 2 === h).coalesce(1).write.parquet(half)
          val part = new java.io.File(half).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(sys.error(s"no part file under $half"))
          val staged = src.resolve(s"h$h.parquet")
          java.nio.file.Files.move(part.toPath, staged)
          java.nio.file.Files.setLastModifiedTime(staged,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - (1 - h) * 10000L))
        }
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token"))
          .withColumn("ver", lit(1L))
        val postings = graft.streaming.EventStreams.upsertStream(s, stream,
          work.resolve("dest").toString,
          keys = Seq("token", "doc_id"), versionCol = "ver",
          checkpoint = work.resolve("ckpt").toString,
          bucketCols = Seq("token"))
        val must = Seq("spark", "merge", "window")
        postings.filter(col("token").isin(must: _*))
          .groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
          .filter(col("n_terms") === must.size)
          .select("doc_id").orderBy("doc_id")
      },
      Some("""SELECT doc_id FROM documents
             |WHERE list_contains(string_split(text, ' '), 'spark')
             |  AND list_contains(string_split(text, ' '), 'merge')
             |  AND list_contains(string_split(text, ' '), 'window')
             |ORDER BY doc_id""".stripMargin)),

    // ---- CORPUS-COMPOSITION DRIFT between crawl snapshots: the
    //      language distribution of the "old" half (even doc ids, the
    //      stand-in for yesterday's corpus) vs the "new" half, each
    //      in exact permille, with per-language absolute drift — the
    //      monitoring report that catches a crawl source silently
    //      tipping the language mix before a training run bakes it
    //      in. Two combinable aggregates over lang (enum-sized), a
    //      full outer alignment, integer math only. ----
    Q("text_lang_drift",
      (s, dir) => {
        val d = Tables.t(s, dir, "documents")
        def dist(pred: org.apache.spark.sql.Column, pm: String, n: String) = {
          val half = d.filter(pred).groupBy("lang").agg(count(lit(1)).as(n))
          val tot = half.agg(sum(n).as("_t"))
          half.crossJoin(broadcast(tot))
            .select(col("lang"), col(n),
              expr(s"(1000 * $n) div _t").as(pm))
        }
        dist(col("doc_id") % 2 === 0, "pm_old", "n_old")
          .join(dist(col("doc_id") % 2 === 1, "pm_new", "n_new"), Seq("lang"), "full_outer")
          .select(col("lang"),
            coalesce(col("pm_old"), lit(0L)).as("pm_old"),
            coalesce(col("pm_new"), lit(0L)).as("pm_new"))
          .withColumn("drift_pm", abs(col("pm_new") - col("pm_old")))
          .orderBy("lang")
      },
      Some("""WITH o AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
             |          WHERE doc_id % 2 = 0 GROUP BY 1),
             |n AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents
             |      WHERE doc_id % 2 = 1 GROUP BY 1),
             |op AS (SELECT lang, CAST(1000 * n // (SELECT SUM(n) FROM o) AS BIGINT) AS pm_old FROM o),
             |np AS (SELECT lang, CAST(1000 * n // (SELECT SUM(n) FROM n) AS BIGINT) AS pm_new FROM n)
             |SELECT COALESCE(op.lang, np.lang) AS lang,
             |  COALESCE(pm_old, 0) AS pm_old, COALESCE(pm_new, 0) AS pm_new,
             |  abs(COALESCE(pm_new, 0) - COALESCE(pm_old, 0)) AS drift_pm
             |FROM op FULL OUTER JOIN np ON op.lang = np.lang
             |ORDER BY lang""".stripMargin)),

    // ---- ZIPF RANK-FREQUENCY SLOPE: least-squares slope of
    //      ln(freq) on ln(rank) over the top-1000 tokens — the
    //      power-law diagnostic (healthy natural text sits near −1;
    //      boilerplate and synthetic corpora bend it) that rides the
    //      same vocabulary pass every other text stat uses. All
    //      engine-exact: ln values quantize to MILLI units (the
    //      log arguments are exact BIGINTs so both engines feed ln
    //      the identical double), rank comes from a 1000×1000
    //      broadcast triangular join over the LIMITed top set (no
    //      unpartitioned window), and the regression's six sums ride
    //      DECIMAL(38,0)/HUGEINT with one closing floor division to
    //      micro units. ----
    Q("text_zipf_slope",
      (s, dir) => {
        val top = Tables.t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("f"))
          .orderBy(desc("f"), col("token")).limit(1000)
          .checkpointed() // bounded 1000 rows; joined to itself
        val other = top.select(col("token").as("t2"), col("f").as("f2"))
        val ranked = top.join(broadcast(other),
            col("f2") > col("f") || (col("f2") === col("f") && col("t2") < col("token")),
            "left")
          .groupBy("token", "f").agg((count(col("t2")) + 1).as("rank"))
          .select(
            expr("CAST(round(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT)").as("x"),
            expr("CAST(round(ln(CAST(f AS DOUBLE)) * 1000) AS BIGINT)").as("y"))
        ranked.agg(count(lit(1)).as("n"),
            sum("x").cast("decimal(38,0)").as("sx"),
            sum("y").cast("decimal(38,0)").as("sy"),
            sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)"))
              .cast("decimal(38,0)").as("sxy"),
            sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)"))
              .cast("decimal(38,0)").as("sxx"))
          .select(col("n"),
            expr("CAST((1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx) AS BIGINT)")
              .as("slope_micro"))
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
             |tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS f FROM toks GROUP BY 1
             |       ORDER BY f DESC, token LIMIT 1000),
             |rk AS (SELECT a.token, a.f,
             |    CAST(1 + COUNT(b.token) AS BIGINT) AS rank
             |  FROM tf a LEFT JOIN tf b
             |    ON b.f > a.f OR (b.f = a.f AND b.token < a.token)
             |  GROUP BY 1, 2),
             |xy AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000) AS BIGINT) AS x,
             |              CAST(round(ln(CAST(f AS DOUBLE)) * 1000) AS BIGINT) AS y FROM rk),
             |sums AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             |    SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
             |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx FROM xy)
             |SELECT CAST(n AS BIGINT) AS n,
             |  CAST((1000000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS BIGINT) AS slope_micro
             |FROM sums""".stripMargin)),

    // ---- UNIGRAM-SURPRISAL QUALITY SCORE: mean token surprisal
    //      −ln p(token) under the corpus's own unigram LM — the
    //      cheap perplexity proxy a data pipeline uses to rank
    //      documents for quality filtering (gibberish and boilerplate
    //      both separate from typical text). Per-token surprisal
    //      quantizes to MICRO units off an exact-rational log
    //      argument (total/count — identical IEEE double on both
    //      engines before the one ln call), so the per-doc sum and
    //      mean are pure BIGINT. One corpus pass builds the vocab
    //      (token → count: bounded by vocabulary, not corpus); the
    //      scoring join is token-keyed — at 100 TB the zipfian head
    //      would ride a broadcast top-K split, noted not needed at
    //      gate scale. Output: per-doc token count + mean surprisal. ----
    Q("text_unigram_surprisal",
      (s, dir) => {
        val toks = Tables.t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
        val total = vocab.agg(sum("cnt").as("tot"))
        val scored = vocab.crossJoin(broadcast(total))
          .select(col("token"),
            round(log(col("tot").cast("double") / col("cnt").cast("double")) * 1000000)
              .cast("long").as("surprisal_micro"))
        toks.join(scored, Seq("token"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tok"),
            sum("surprisal_micro").as("sum_s"))
          .select(col("doc_id"), col("n_tok"),
            expr("sum_s div n_tok").as("avg_surprisal_micro"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
             |              FROM documents),
             |vocab AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1),
             |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM vocab),
             |sc AS (SELECT token,
             |         CAST(round(ln(CAST(t.tot AS DOUBLE) / CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT)
             |           AS surprisal_micro
             |       FROM vocab CROSS JOIN tot t)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
             |  CAST(SUM(surprisal_micro) // COUNT(*) AS BIGINT) AS avg_surprisal_micro
             |FROM toks JOIN sc USING (token)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- EXACT edit-distance-<=1 join via deletion neighborhoods
    //      (FastSS): supplier names differ in single digit positions,
    //      so natural distance-1 pairs exist without any construction.
    //      The Spark side self-joins ONLY on deletion variants (one
    //      equi-join keyed by the high-cardinality variant string —
    //      an aggregation-shaped plan that survives a 100 TB
    //      vocabulary); the oracle is the plain quadratic levenshtein
    //      join, so the neighborhood's completeness is ON the gate.
    //      Complements etl_fuzzy_match, whose broadcast probe side
    //      must stay small — this form is symmetric corpus-x-corpus
    //      with no broadcast requirement. ----
    Q("text_editdist1_pairs",
      (s, dir) => graft.operators.Dedup
        .editDistance1Pairs(Tables.t(s, dir, "supplier"), "s_suppkey", "s_name")
        .orderBy("id_a", "id_b"),
      Some("""WITH n AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
             |FROM n a JOIN n b ON a.id < b.id
             |WHERE levenshtein(a.nm, b.nm) <= 1
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- FastSS at distance 2 — the real-world name-matching
    //      setting (two typos): same deletion-neighborhood equi-join,
    //      neighborhood widened to the C(L,2) two-deletion variants.
    //      Oracle is the plain quadratic levenshtein <= 2 self-join,
    //      so the index's completeness at k=2 (every qualifying pair
    //      shares a <= 2-deletion variant) is proved ON the gate. ----
    Q("text_editdist2_pairs",
      (s, dir) => graft.operators.Dedup
        .editDistancePairs(Tables.t(s, dir, "supplier"), "s_suppkey", "s_name",
          maxDist = 2)
        .orderBy("id_a", "id_b"),
      Some("""WITH n AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
             |FROM n a JOIN n b ON a.id < b.id
             |WHERE levenshtein(a.nm, b.nm) <= 2
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- ENTITY RESOLUTION composition: FastSS edit-distance pairs
    //      feed the connected-components labeller — "these supplier
    //      names are the same entity up to one typo" as transitive
    //      groups with a deterministic canonical (min id). Composes
    //      two gate-proven operators end to end; the oracle replays
    //      the quadratic levenshtein pair graph through the same
    //      WITH RECURSIVE reachability the dedup cluster oracle
    //      uses. Singletons (no pair) stay out, matching
    //      dedup_clusters' convention. ----
    Q("text_editdist1_clusters",
      (s, dir) => {
        val pairs = graft.operators.Dedup
          .editDistance1Pairs(Tables.t(s, dir, "supplier"), "s_suppkey", "s_name")
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        graft.operators.Dedup.clusters(pairs)
          .withColumn("n_members", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
          .select(col("node").as("s_suppkey"), col("cluster_id"), col("n_members"))
          .orderBy("s_suppkey")
      },
      Some("""WITH RECURSIVE n AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier),
             |p AS (SELECT a.id AS ia, b.id AS ib FROM n a JOIN n b
             |      ON a.id < b.id AND levenshtein(a.nm, b.nm) <= 1),
             |edges AS (SELECT ia AS src, ib AS dst FROM p
             |          UNION SELECT ib, ia FROM p),
             |reach(node, lbl) AS (SELECT src, src FROM edges
             |                     UNION
             |                     SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
             |cl AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
             |SELECT node AS s_suppkey, cluster_id,
             |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
             |FROM cl ORDER BY s_suppkey""".stripMargin)),

    // ---- CHARACTER-BIGRAM DICE SIMILARITY JOIN: name pairs with
    //      Dice(A, B) = 2|A∩B| / (|A|+|B|) >= 0.8 over distinct
    //      char-bigram sets — the fuzzy-matching staple that catches
    //      transpositions edit distance weights heavily. All
    //      integer: |A∩B| falls out of the bigram-postings equi-join
    //      (one row per shared bigram after per-name dedup), the
    //      threshold is the cross-multiplication 2000·c >= 800·(na+nb)
    //      and the reported score is integer permille. Postings
    //      bucket by bigram, so fan-out is bounded by bigram
    //      frequency, never names². ----
    Q("text_bigram_dice_pairs",
      (s, dir) => {
        val n = Tables.t(s, dir, "supplier")
          .select(col("s_suppkey").as("id"), col("s_name").as("nm"))
        val bg = n.select(col("id"), explode(expr(
          "array_distinct(transform(sequence(1, length(nm) - 1), " +
            "i -> substring(nm, i, 2)))")).as("b"))
        val sz = bg.groupBy("id").agg(count(lit(1)).as("nb"))
        val a = bg.select(col("id").as("id_a"), col("b"))
        val b = bg.select(col("id").as("id_b"), col("b"))
        val common = a.join(b, Seq("b"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_common"))
        common
          .join(sz.select(col("id").as("id_a"), col("nb").as("na")), "id_a")
          .join(sz.select(col("id").as("id_b"), col("nb").as("nbb")), "id_b")
          .filter(col("n_common") * 2000 >= (col("na") + col("nbb")) * 800)
          .select(col("id_a"), col("id_b"), col("n_common"),
            expr("(2000 * n_common) div (na + nbb)").as("dice_permille"))
          .orderBy("id_a", "id_b")
      },
      Some("""WITH n AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier),
             |bg AS (SELECT id, unnest(list_distinct(
             |         list_transform(generate_series(1, length(nm) - 1),
             |           i -> substr(nm, CAST(i AS INT), 2)))) AS b
             |       FROM n),
             |sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS nb FROM bg GROUP BY 1),
             |common AS (SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS c
             |           FROM bg a JOIN bg b ON a.b = b.b AND a.id < b.id GROUP BY 1, 2)
             |SELECT c.id_a, c.id_b, c.c AS n_common,
             |  CAST((2000 * c.c) // (sa.nb + sb.nb) AS BIGINT) AS dice_permille
             |FROM common c JOIN sz sa ON sa.id = c.id_a JOIN sz sb ON sb.id = c.id_b
             |WHERE 2000 * c.c >= 800 * (sa.nb + sb.nb)
             |ORDER BY id_a, id_b""".stripMargin)),

    // ---- CROSS-CORPUS DEDUP (incremental-crawl shape): which NEW
    //      documents (odd ids) near-duplicate any BASE document (even
    //      ids) — the "dedupe today's crawl against the standing
    //      corpus" question an LLM ingestion pipeline asks every
    //      batch. Runs the gate-proven exact prefix join and keeps
    //      only cross-side pairs; at 100 TB the same join runs
    //      probe-only (new docs' prefixes against the persisted base
    //      postings index — the inverted-index tier), touching
    //      O(new × rare-token df), never the base corpus pairwise.
    //      Oracle is the quadratic cross join. ----
    Q("dedup_cross_corpus",
      (s, dir) => {
        graft.operators.Dedup
          .prefixFilterNearDups(Tables.t(s, dir, "documents"), "doc_id", "text")
          .filter(col("doc_a") % 2 =!= col("doc_b") % 2)
          .select(when(col("doc_a") % 2 === 1, col("doc_a"))
            .otherwise(col("doc_b")).as("new_id"))
          .groupBy("new_id").agg(count(lit(1)).as("n_base_matches"))
          .orderBy("new_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             |       FROM (SELECT doc_id, w,
             |               unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i FROM toks)),
             |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
             |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
             |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             |           GROUP BY 1, 2),
             |p AS (SELECT doc_a, doc_b FROM common
             |      JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
             |      WHERE n_common * 10 >= (sa.n_sh + sb.n_sh - n_common) * 7
             |        AND doc_a % 2 <> doc_b % 2)
             |SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS new_id,
             |       CAST(COUNT(*) AS BIGINT) AS n_base_matches
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- FUZZY-NAME ENTITY RESOLUTION on the Dice graph: the
    //      bigram-Dice pairs feed the connected-components labeller —
    //      the second entity-resolution composition next to the
    //      edit-distance one, proving the cluster operator composes
    //      with ANY pair generator. Oracle replays the same pair
    //      graph through WITH RECURSIVE reachability. ----
    Q("text_dice_clusters",
      (s, dir) => {
        val n = Tables.t(s, dir, "supplier")
          .select(col("s_suppkey").as("id"), col("s_name").as("nm"))
        val bg = n.select(col("id"), explode(expr(
          "array_distinct(transform(sequence(1, length(nm) - 1), " +
            "i -> substring(nm, i, 2)))")).as("b"))
        val sz = bg.groupBy("id").agg(count(lit(1)).as("nb"))
        val a = bg.select(col("id").as("id_a"), col("b"))
        val bb = bg.select(col("id").as("id_b"), col("b"))
        val pairs = a.join(bb, Seq("b"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("c"))
          .join(sz.select(col("id").as("id_a"), col("nb").as("na")), "id_a")
          .join(sz.select(col("id").as("id_b"), col("nb").as("nbb")), "id_b")
          .filter(col("c") * 2000 >= (col("na") + col("nbb")) * 800)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
        graft.operators.Dedup.clusters(pairs)
          .withColumn("n_members", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
          .select(col("node").as("s_suppkey"), col("cluster_id"), col("n_members"))
          .orderBy("s_suppkey")
      },
      Some("""WITH RECURSIVE n AS (SELECT s_suppkey AS id, s_name AS nm FROM supplier),
             |bg AS (SELECT id, unnest(list_distinct(
             |         list_transform(generate_series(1, length(nm) - 1),
             |           i -> substr(nm, CAST(i AS INT), 2)))) AS b FROM n),
             |sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS nb FROM bg GROUP BY 1),
             |common AS (SELECT a.id AS ia, b.id AS ib, CAST(COUNT(*) AS BIGINT) AS c
             |           FROM bg a JOIN bg b ON a.b = b.b AND a.id < b.id GROUP BY 1, 2),
             |p AS (SELECT c.ia, c.ib FROM common c
             |      JOIN sz sa ON sa.id = c.ia JOIN sz sb ON sb.id = c.ib
             |      WHERE 2000 * c.c >= 800 * (sa.nb + sb.nb)),
             |edges AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
             |reach(node, lbl) AS (SELECT src, src FROM edges
             |                     UNION
             |                     SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst),
             |cl AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
             |SELECT node AS s_suppkey, cluster_id,
             |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
             |FROM cl ORDER BY s_suppkey""".stripMargin)),

    // ---- TEXT NORMALIZATION: the cleaning pass every corpus
    //      pipeline runs before dedup/tokenization — lowercase,
    //      collapse all whitespace runs to one space, trim. Pure
    //      codegen'd string expressions, map-side only; the gate
    //      hash-compares the CLEANED STRINGS themselves, pinning
    //      that Spark's Java-regex `\s+` and DuckDB's RE2 agree on
    //      the whitespace class over the whole corpus (the dialect
    //      drift that silently forks a pipeline's notion of
    //      "identical document"). ----
    Q("text_normalize_clean",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("doc_id"),
          lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("cleaned"),
          length(col("text")).cast("long").as("n_before"),
          length(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
            .cast("long").as("n_after"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS cleaned,
             |  CAST(length(text) AS BIGINT) AS n_before,
             |  CAST(length(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS BIGINT) AS n_after
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ---- GOPHER-STYLE QUALITY RULES: the published repetition /
    //      word-statistics filter battery (Rae et al. 2021 §A1.1)
    //      re-expressed on this corpus's non-degenerate axes — word
    //      count bounds, mean word length band, most-common-word
    //      share, distinct-word ratio, minimum stopword evidence —
    //      with the per-rule evidence AND the verdict in one row per
    //      doc. Computed ENTIRELY IN-ROW (top-word share = longest
    //      equal run of the sorted word array, the text_repetition
    //      idiom; no explode, no shuffle beyond the final sort), so
    //      at 100 TB the filter is a map-only pass. All ratios are
    //      integer permille/milli — no float thresholds to drift. ----
    Q("text_gopher_rules",
      (s, dir) => Tables.t(s, dir, "documents")
        .withColumn("_w", split(col("text"), " "))
        .withColumn("n_words", size(col("_w")).cast(LongType))
        .withColumn("_sorted", sort_array(col("_w")))
        .withColumn("sum_len", expr(
          "aggregate(transform(_w, x -> CAST(length(x) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)"))
        .withColumn("top_cnt", expr(
          "CASE WHEN size(_sorted) = 1 THEN CAST(1 AS BIGINT) ELSE " +
            "aggregate(sequence(2, size(_sorted)), named_struct('run', 1, 'best', 1), " +
            "(acc, i) -> IF(element_at(_sorted, i) = element_at(_sorted, i - 1), " +
            "named_struct('run', acc.run + 1, 'best', greatest(acc.best, acc.run + 1)), " +
            "named_struct('run', 1, 'best', acc.best)), " +
            "acc -> CAST(acc.best AS BIGINT)) END"))
        .withColumn("n_stop",
          size(filter(col("_w"), t => t.isin(stopwords: _*))).cast(LongType))
        .select(col("doc_id"), col("n_words"),
          expr("sum_len * 1000 div n_words").as("mean_len_milli"),
          expr("top_cnt * 1000 div n_words").as("top_word_permille"),
          expr("CAST(size(array_distinct(_w)) AS BIGINT) * 1000 div n_words")
            .as("distinct_permille"),
          col("n_stop"),
          (col("n_words").between(50L, 100000L) &&
            expr("sum_len * 1000 div n_words").between(3000L, 10000L) &&
            expr("top_cnt * 1000 div n_words") <= 200L &&
            col("n_stop") >= 2L).as("keep"))
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
              |ex AS (SELECT doc_id, unnest(w) AS word FROM t),
              |cnt AS (SELECT doc_id, word, COUNT(*) AS c FROM ex GROUP BY 1, 2),
              |top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_cnt FROM cnt GROUP BY 1),
              |st AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
              |   CAST(list_aggregate(list_transform(w, x -> length(x)), 'sum') AS BIGINT) AS sum_len,
              |   CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
              |   CAST(len(list_filter(w, x -> x IN $stopwordSql)) AS BIGINT) AS n_stop
              | FROM t)
              |SELECT st.doc_id, n_words,
              |  (sum_len * 1000) // n_words AS mean_len_milli,
              |  (top_cnt * 1000) // n_words AS top_word_permille,
              |  (n_distinct * 1000) // n_words AS distinct_permille, n_stop,
              |  (n_words BETWEEN 50 AND 100000
              |   AND (sum_len * 1000) // n_words BETWEEN 3000 AND 10000
              |   AND (top_cnt * 1000) // n_words <= 200 AND n_stop >= 2) AS keep
              |FROM st JOIN top USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // ---- HAPAX LEGOMENA RATIO per source: what fraction of each
    //      source's vocabulary occurs exactly once — the classic
    //      corpus-health number next to the Zipf slope (a scraped
    //      feed full of serial numbers / OCR noise shows a hapax
    //      ratio near 1000‰; natural prose sits near 400-600‰; a
    //      templated feed collapses toward 0). Complements
    //      text_vocab_growth (which tracks NEW types over time) by
    //      measuring the once-only mass of the finished corpus.
    //      Scale: one (source, token) count — map-side combinable,
    //      the only data-scaled shuffle — then a source-keyed
    //      aggregate over the type table; the ratio is exact integer
    //      permille. ----
    Q("text_hapax_ratio",
      (s, dir) => Tables.t(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("n"))
        .groupBy("source").agg(
          count(lit(1)).as("vocab"),
          sum(when(col("n") === 1, 1L).otherwise(0L)).as("hapax"))
        .withColumn("hapax_permille", expr("(1000 * hapax) div vocab"))
        .orderBy("source"),
      Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
             |tc AS (SELECT source, token, COUNT(*) AS n FROM tok GROUP BY 1, 2)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab,
             |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
             |  CAST((1000 * SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS hapax_permille
             |FROM tc GROUP BY source ORDER BY source""".stripMargin)),

    // ---- BIGRAM SURPRISAL (add-one-smoothed conditional LM): mean
    //      −ln p(t2|t1) per document under the corpus's own bigram
    //      model with Laplace smoothing — the step up from
    //      text_unigram_surprisal that actually catches scrambled
    //      word ORDER (a bag-of-frequent-words document scores as
    //      typical under a unigram LM; its implausible transitions
    //      light up here). Same exactness discipline: per-bigram
    //      surprisal is round(ln((c(t1)+V)/(c12+1))·1e6) off
    //      exact-integer log arguments (identical IEEE on both
    //      engines before the one ln), so per-doc sums and means are
    //      pure BIGINT. Model tables are (t1) and (t1,t2) counts —
    //      vocabulary-bounded, not corpus-bounded; the scoring join
    //      is bigram-keyed (at 100 TB the zipfian head rides the
    //      same broadcast split the unigram form notes). ----
    Q("text_bigram_surprisal",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
        val bg = docs.select(col("doc_id"),
            posexplode(expr(
              "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), (a, b) -> struct(a as t1, b as t2))"))
              .as(Seq("pos", "p")))
          .select(col("doc_id"), col("p.t1").as("t1"), col("p.t2").as("t2"))
        val c12 = bg.groupBy("t1", "t2").agg(count(lit(1)).as("c12"))
        val c1 = bg.groupBy("t1").agg(count(lit(1)).as("c1"))
        val v = bg.select(col("t2").as("t")).union(bg.select(col("t1").as("t")))
          .distinct().agg(count(lit(1)).as("vocab"))
        val scored = c12.join(c1, Seq("t1")).crossJoin(broadcast(v))
          .select(col("t1"), col("t2"),
            round(log((col("c1") + col("vocab")).cast("double") /
              (col("c12") + 1).cast("double")) * 1000000)
              .cast("long").as("surprisal_micro"))
        bg.join(scored, Seq("t1", "t2"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_bigrams"), sum("surprisal_micro").as("sum_s"))
          .select(col("doc_id"), col("n_bigrams"),
            expr("sum_s div n_bigrams").as("avg_surprisal_micro"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
             |bg AS (SELECT doc_id, w[i] AS t1, w[i+1] AS t2
             |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i FROM toks)),
             |c12 AS (SELECT t1, t2, CAST(COUNT(*) AS BIGINT) AS c12 FROM bg GROUP BY 1, 2),
             |c1 AS (SELECT t1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg GROUP BY 1),
             |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab FROM
             |        (SELECT t2 AS t FROM bg UNION SELECT t1 FROM bg)),
             |sc AS (SELECT t1, t2,
             |         CAST(round(ln(CAST(c1 + vocab AS DOUBLE) / CAST(c12 + 1 AS DOUBLE)) * 1000000) AS BIGINT)
             |           AS surprisal_micro
             |       FROM c12 JOIN c1 USING (t1) CROSS JOIN v)
             |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             |  CAST(SUM(surprisal_micro) // COUNT(*) AS BIGINT) AS avg_surprisal_micro
             |FROM bg JOIN sc USING (t1, t2)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- PER-SOURCE KL DIVERGENCE from the corpus unigram mix:
    //      KL(source ‖ corpus) = Σ_t p_st·ln(p_st/p_t) — the
    //      information-theoretic upgrade of text_lang_drift (which
    //      watches ONE ratio; this scores the whole distribution),
    //      the number a corpus curator tracks per ingest feed to
    //      catch a source going off-topic or template-collapsing.
    //      Exactness discipline: the log argument
    //      (c_st·T) / (c_t·T_s) is an exact integer ratio (identical
    //      IEEE before the one ln), each term is c_st·lq_micro in
    //      BIGINT, and the final division by T_s is one floor per
    //      source — kl_micro is pure integer. Scale: a (source,
    //      token) count and a token count (both map-side
    //      combinable), one token-keyed join between them, one
    //      source-keyed sum; the corpus-total is a one-row
    //      broadcast. ----
    Q("text_kl_source_divergence",
      (s, dir) => {
        val st = Tables.t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
          .groupBy("source", "token").agg(count(lit(1)).as("cst"))
        val ct = st.groupBy("token").agg(sum("cst").as("ct"))
        val ts = st.groupBy("source").agg(sum("cst").as("t_s"))
        val tot = ct.agg(sum("ct").as("t"))
        st.join(ct, Seq("token")).join(ts, Seq("source"))
          .crossJoin(broadcast(tot))
          .select(col("source"), col("t_s"),
            (col("cst") *
              round(log((col("cst") * col("t")).cast("double") /
                (col("ct") * col("t_s")).cast("double")) * 1000000).cast("long"))
              .as("term"))
          .groupBy("source", "t_s").agg(sum("term").as("sum_term"))
          .select(col("source"), col("t_s").as("n_tokens"),
            expr("sum_term div t_s").as("kl_micro"))
          .orderBy("source")
      },
      Some("""WITH st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cst
             |  FROM (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents)
             |  GROUP BY 1, 2),
             |ct AS (SELECT token, CAST(SUM(cst) AS BIGINT) AS ct FROM st GROUP BY 1),
             |ts AS (SELECT source, CAST(SUM(cst) AS BIGINT) AS t_s FROM st GROUP BY 1),
             |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS t FROM ct),
             |terms AS (SELECT st.source, ts.t_s,
             |    st.cst * CAST(round(ln(CAST(st.cst * tot.t AS DOUBLE) /
             |                           CAST(ct.ct * ts.t_s AS DOUBLE)) * 1000000) AS BIGINT) AS term
             |  FROM st JOIN ct USING (token) JOIN ts USING (source) CROSS JOIN tot)
             |SELECT source, t_s AS n_tokens,
             |  CAST(SUM(term) // t_s AS BIGINT) AS kl_micro
             |FROM terms GROUP BY source, t_s ORDER BY source""".stripMargin)),

    // ---- SOURCE VOCABULARY OVERLAP (pairwise Jaccard of type
    //      sets): which ingest feeds carry each other's content —
    //      the curation matrix that catches two "different" crawls
    //      republishing the same corpus before dedup pays for
    //      finding out row by row. One distinct (source, token)
    //      projection, one token-keyed self-join (per-token fan-out
    //      bounded by sources², never corpus²), vocabulary sizes
    //      joined onto the SOURCES²-sized pair table; Jaccard is
    //      exact permille. ----
    Q("text_source_vocab_overlap",
      (s, dir) => {
        val st = Tables.t(s, dir, "documents")
          .select(col("source"), explode(array_distinct(split(col("text"), " "))).as("token"))
          .distinct()
          .checkpointed() // vocab sizes AND both join sides read it
        val vs = st.groupBy("source").agg(count(lit(1)).as("vocab"))
        val inter = st.select(col("source").as("sa"), col("token"))
          .join(st.select(col("source").as("sb"), col("token")), Seq("token"))
          .filter(col("sa") < col("sb"))
          .groupBy("sa", "sb").agg(count(lit(1)).as("inter"))
        inter
          .join(vs.select(col("source").as("sa"), col("vocab").as("va")), Seq("sa"))
          .join(vs.select(col("source").as("sb"), col("vocab").as("vb")), Seq("sb"))
          .select(col("sa"), col("sb"), col("inter"),
            expr("(1000 * inter) div (va + vb - inter)").as("jaccard_pm"))
          .orderBy("sa", "sb")
      },
      Some("""WITH st AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token
             |           FROM documents),
             |vs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab FROM st GROUP BY 1),
             |i AS (SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS inter
             |      FROM st a JOIN st b ON a.token = b.token AND a.source < b.source
             |      GROUP BY 1, 2)
             |SELECT sa, sb, inter,
             |  CAST((1000 * inter) // (va.vocab + vb.vocab - inter) AS BIGINT) AS jaccard_pm
             |FROM i JOIN vs va ON va.source = i.sa JOIN vs vb ON vb.source = i.sb
             |ORDER BY sa, sb""".stripMargin)),

    // ---- OOV RATE against a top-K vocabulary: what fraction of each
    //      source's token OCCURRENCES falls outside the corpus's own
    //      top-1000 types — the tokenizer-health number an LLM
    //      pipeline tracks per feed (a source whose OOV rate jumps is
    //      serving a new language, a new template, or garbage). The
    //      vocabulary is a TakeOrdered(1000) over the type counts
    //      (total order (count DESC, token) — the rank-1000 boundary
    //      tie is deterministic), broadcast into a left semi
    //      classification of the occurrence stream; rates are exact
    //      permille. One type count + one token-keyed broadcast
    //      probe — the corpus never self-joins. ----
    Q("text_oov_rate",
      (s, dir) => {
        val toks = Tables.t(s, dir, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("token"))
        val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("token")).limit(1000)
          .select("token").checkpointed() // broadcast probe, built once
        toks.join(broadcast(vocab.withColumn("_in", lit(1L))), Seq("token"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_permille", expr("(1000 * n_oov) div n_tokens"))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
             |v AS (SELECT token FROM (SELECT token, COUNT(*) AS n FROM toks GROUP BY 1)
             |      ORDER BY n DESC, token LIMIT 1000),
             |j AS (SELECT toks.source, v.token AS hit
             |      FROM toks LEFT JOIN v ON v.token = toks.token)
             |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             |  CAST(SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |  CAST((1000 * SUM(CASE WHEN hit IS NULL THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS oov_permille
             |FROM j GROUP BY source ORDER BY source""".stripMargin)),

    // ---- TRENDING TOKENS (heavy-change detection): the 15 types
    //      whose count moved most between the two corpus halves —
    //      "what's new in this crawl" stated as exact deltas, the
    //      change-mining twin of the heavy-hitters family (a token
    //      can trend without ever being a global heavy hitter). One
    //      (token, half) count with the halves split by doc parity,
    //      a full-outer align (a token absent from one half is a
    //      zero, not a dropped row), and a TakeOrdered top-15 on
    //      (|Δ| DESC, token) — no window, no self-join. ----
    Q("text_trending_tokens",
      (s, dir) => {
        val tc = Tables.t(s, dir, "documents")
          .select((col("doc_id") % 2 === 0).as("old_half"),
            explode(split(col("text"), " ")).as("token"))
          .groupBy("token")
          .agg(sum(when(col("old_half"), 1L).otherwise(0L)).as("n_old"),
            sum(when(col("old_half"), 0L).otherwise(1L)).as("n_new"))
        tc.select(col("token"), col("n_old"), col("n_new"),
            (col("n_new") - col("n_old")).as("delta"))
          .orderBy(abs(col("delta")).desc, col("token"))
          .limit(15)
      },
      Some("""WITH tc AS (SELECT token,
             |    CAST(SUM(CASE WHEN old_half THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
             |    CAST(SUM(CASE WHEN old_half THEN 0 ELSE 1 END) AS BIGINT) AS n_new
             |  FROM (SELECT doc_id % 2 = 0 AS old_half,
             |               unnest(string_split(text, ' ')) AS token FROM documents)
             |  GROUP BY 1)
             |SELECT token, n_old, n_new, n_new - n_old AS delta
             |FROM tc ORDER BY abs(n_new - n_old) DESC, token LIMIT 15""".stripMargin)),

    // ---- CHARACTER-LEVEL ENTROPY (gibberish detector): Shannon
    //      entropy of each document's character distribution — random
    //      byte soup reads ~ln 60, base64 blobs ~ln 64, natural prose
    //      ~ln 20; the char-level complement of the word-level
    //      quality battery. Entropy is Σ c·round(ln(n/c)·1e6) div n,
    //      micro-exact on both engines. Plan: the doc length rides
    //      the explode so the per-(doc, char) count — map-side
    //      combinable, codegen, the same shape as the unigram model
    //      build — already carries everything the per-doc fold
    //      needs; two well-keyed aggregations, no in-row HOF lambdas
    //      (an interpreted sorted-run fold benched 5x slower than
    //      this exploded form). ----
    Q("text_char_entropy",
      (s, dir) => Tables.t(s, dir, "documents")
        .filter(length(col("text")) >= 1)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
          explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "") // codegen filter, not an interpreted HOF
        .groupBy("doc_id", "n_chars", "ch").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n_chars")
        .agg(sum(col("c") *
          round(log(col("n_chars").cast("double") / col("c").cast("double")) * 1000000)
            .cast("long")).as("sum_term"))
        .select(col("doc_id"), col("n_chars"),
          expr("sum_term div n_chars").as("entropy_micro"))
        .orderBy("doc_id"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, '') AS cs,
             |    CAST(length(text) AS BIGINT) AS n FROM documents
             |    WHERE length(text) >= 1),
             |t AS (SELECT doc_id, n,
             |    CAST(list_sum(list_transform(list_distinct(cs),
             |      c -> len(list_filter(cs, x -> x = c)) *
             |           CAST(round(ln(CAST(n AS DOUBLE) /
             |                         CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE)) * 1000000) AS BIGINT)))
             |      AS BIGINT) AS sum_term
             |  FROM d)
             |SELECT doc_id, n AS n_chars,
             |  CAST(sum_term // n AS BIGINT) AS entropy_micro
             |FROM t ORDER BY doc_id""".stripMargin))
  )
}
