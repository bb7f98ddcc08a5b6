package graft.functions

import graft.operators.Checkpoints.Checkpointed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Unigram-LM tokenizer TRAINER (the SentencePiece family, Kudo 2018,
 * public) — the second public tokenizer-training algorithm beside BPE
 * ([[Bpe.trainMerges]]): seed a piece vocabulary from frequent
 * substrings of the vocab-collapsed corpus, then iterate E/M rounds —
 * E-step: Viterbi best-path segmentation of every vocab word under
 * the current integer-micros piece log-probs, expected counts =
 * freq-weighted piece usage; M-step: prune to the best multi-char
 * pieces (single chars are NEVER pruned, so every word stays
 * segmentable) and re-score from the smoothed counts.
 *
 * Exactness discipline: piece scores are the one-ln-over-an-exact-
 * integer-ratio micro idiom (round(ln((cnt+1)/(tot+|pieces|))·1e6) —
 * the PSI smoothing shape), and the Viterbi DP runs ENTIRELY in
 * BIGINT micros (max-sum over exact integers, longest-piece
 * tie-break), so a WITH RECURSIVE oracle replays it bit-exactly.
 *
 * Scale shape (the [[Bpe.trainMerges]] argument): the corpus
 * collapses to its VOCABULARY before the loop — the one corpus-sized
 * pass; each round is a vocab-sized map-side Viterbi (two sequential
 * `aggregate` folds per word — O(len·4) BIGINT ops and map lookups,
 * no shuffle beyond the piece-count aggregation) plus a piece-table
 * collect that is vocabulary metadata (≤ chars + keepMulti rows).
 * Total work is m-INVARIANT under corpus replication (SCALE unigram).
 */
object Unigram {

  /** Longest piece the DP considers. */
  val MaxPiece = 4

  /** Words longer than this are excluded from TRAINING (the DP cost
    * per word is len·4 lookups; production trainers cap candidate
    * length the same way). */
  val MaxWordLen = 12

  /** Score of a missing piece, in micros: far below any real
    * log-prob, but exact BIGINT arithmetic (a word of 12 chars paths
    * at worst 12·Neg = -1.2e13 — no overflow, and backtrace equality
    * stays exact). */
  val Neg = -1000000000000L

  /** Marker for a structurally invalid candidate (k > position):
    * strictly below any reachable path sum so it never wins. */
  private val Invalid = -9000000000000000L

  /** Ceiling on the piece-table size the `typedLit` embedding
    * tolerates (VERDICT r16 #3): [[viterbiDp]]/[[viterbiPieces]]
    * embed the score map as a plan LITERAL in each of their 4
    * candidate lookups — 8 embeddings across the two folds — so the
    * expression tree, and with it every task binary, grows ~8× the
    * map's serialized size. At the gate vocabularies (≤ ~55 pieces)
    * that is free; at this ceiling (~16 B/entry × 8) it is ~1 MiB of
    * plan per stage — tolerable. A production 32k-piece SentencePiece
    * vocabulary is past the point where the FORM should change, not
    * the constant: explode each word's (pos, k) candidate spans,
    * equi-join the piece table as a BROADCAST keyed on the piece
    * string, and re-fold the dp from the joined scores — the scores
    * then ride one broadcast instead of 8 plan literals. That
    * graduation EXISTS as [[segmentJoined]] (bit-identical,
    * ceiling-free); this guard routes oversized vocabularies to it
    * loudly instead of letting the task binary blow up silently. */
  val MaxPieces = 8192

  private def requirePieceBudget(scores: Map[String, Long]): Unit =
    require(scores.size <= MaxPieces,
      s"unigram piece table has ${scores.size} pieces — past the $MaxPieces-piece " +
        "typedLit plan-embedding ceiling (8 map literals per segmentation plan); " +
        "use the broadcast-join segmentation (Unigram.segmentJoined) for this vocabulary")

  /** Viterbi FORWARD pass as one sequential fold: dp[0..len] with
    * dp[i] = max over k=1..4 of dp[i-k] + score(substr(w, i-k+1, k)).
    * A MISSING single char rides the Neg floor (unknown text
    * segments char-by-char — the SentencePiece UNK-per-char
    * convention); a missing MULTI-char piece is not a candidate at
    * all (coalesced to Invalid — a flat floor would make one unknown
    * 2-gram cheaper than two unknown chars). Returns array<bigint>
    * of length len+1. */
  def viterbiDp(w: Column, scores: Map[String, Long]): Column = {
    requirePieceBudget(scores)
    val m = typedLit(scores)
    aggregate(
      sequence(lit(1), length(w)),
      array(lit(0L)),
      (acc, i) => {
        def cand(k: Int): Column =
          when(i >= k,
            element_at(acc, (i - k + 1).cast("int")) +
              coalesce(element_at(m, w.substr(i - k + 1, lit(k))),
                lit(if (k == 1) Neg else Invalid)))
            .otherwise(lit(Invalid))
        concat(acc, array(greatest(cand(1), cand(2), cand(3), cand(4))))
      })
  }

  /** Viterbi BACKTRACE as a second fold over at most MaxWordLen
    * steps: from pos = len, pick the k whose candidate equals dp[pos]
    * (exact BIGINT equality; ties prefer the LONGEST piece — checked
    * k = 4, 3, 2, then 1), emit the piece, step back. Returns
    * array<string> of the best segmentation's pieces. */
  def viterbiPieces(w: Column, dp: Column, scores: Map[String, Long]): Column = {
    requirePieceBudget(scores)
    val m = typedLit(scores)
    val walk = aggregate(
      sequence(lit(1), lit(MaxWordLen)),
      struct(length(w).cast("int").as("pos"),
        typedLit(Seq.empty[String]).as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        def hit(k: Int): Column = pos >= k &&
          (element_at(dp, pos + 1) ===
            element_at(dp, (pos - k + 1).cast("int")) +
              coalesce(element_at(m, w.substr(pos - k + 1, lit(k))),
                lit(if (k == 1) Neg else Invalid)))
        val kSel = when(hit(4), lit(4)).when(hit(3), lit(3))
          .when(hit(2), lit(2)).otherwise(lit(1))
        when(pos <= 0, acc).otherwise(struct(
          (pos - kSel).cast("int").as("pos"),
          concat(acc.getField("ps"),
            array(w.substr(pos - kSel + 1, kSel))).as("ps")))
      })
    walk.getField("ps")
  }

  /** The dp fold over a PER-ROW (pos·8+len -> score) map column —
    * identical candidates, floors, and max-sum as [[viterbiDp]]'s
    * typedLit form (a k=1 key always exists, inserted at Neg by
    * [[segmentJoined]]'s join; an absent multi-char key coalesces to
    * Invalid). */
  private def dpFromMap(w: Column, m: Column): Column =
    aggregate(
      // sequence(1, 0) is DESCENDING [1, 0] in Spark, so a
      // zero-length word must fold over an explicitly EMPTY range —
      // otherwise the dp walks garbage indices i = 1, 0
      when(length(w) >= 1, sequence(lit(1), length(w)))
        .otherwise(array().cast("array<int>")),
      array(lit(0L)),
      (acc, i) => {
        def cand(k: Int): Column =
          when(i >= k,
            element_at(acc, (i - k + 1).cast("int")) +
              coalesce(element_at(m, i * lit(8) + lit(k)),
                lit(if (k == 1) Neg else Invalid)))
            .otherwise(lit(Invalid))
        concat(acc, array(greatest(cand(1), cand(2), cand(3), cand(4))))
      })

  /** [[viterbiPieces]]'s backtrace over the per-row span-score map —
    * same exact-BIGINT equality walk, same longest-piece tie order. */
  private def piecesFromMap(w: Column, dp: Column, m: Column): Column = {
    val walk = aggregate(
      sequence(lit(1), lit(MaxWordLen)),
      struct(length(w).cast("int").as("pos"),
        typedLit(Seq.empty[String]).as("ps")),
      (acc, _) => {
        val pos = acc.getField("pos")
        def hit(k: Int): Column = pos >= k &&
          (element_at(dp, pos + 1) ===
            element_at(dp, (pos - k + 1).cast("int")) +
              coalesce(element_at(m, pos * lit(8) + lit(k)),
                lit(if (k == 1) Neg else Invalid)))
        val kSel = when(hit(4), lit(4)).when(hit(3), lit(3))
          .when(hit(2), lit(2)).otherwise(lit(1))
        when(pos <= 0, acc).otherwise(struct(
          (pos - kSel).cast("int").as("pos"),
          concat(acc.getField("ps"),
            array(w.substr(pos - kSel + 1, kSel))).as("ps")))
      })
    walk.getField("ps")
  }

  /**
   * BROADCAST-JOIN Viterbi segmentation — the graduation path past
   * the [[MaxPieces]] typedLit ceiling, built: instead of embedding
   * the score map in the plan 8 times, each distinct word EXPLODES
   * once to its candidate (pos, len) spans (|word|·MaxPiece rows, all
   * map-side), the piece table joins the span STRING as ONE broadcast
   * — however large the vocabulary — and the scored spans fold back
   * into a per-word (pos·8+len -> score_micros) map that the same
   * exact-BIGINT dp and backtrace then walk. Bit-identical to
   * [[viterbiDp]] + [[viterbiPieces]] (same candidate set, Neg/
   * Invalid floors, max-sum, and longest-piece tie-break — UnigramSpec
   * pins the equality and exercises a table PAST the typedLit
   * ceiling), with plan size independent of the piece count: a 32k
   * SentencePiece vocabulary rides one broadcast, not 8 plan
   * literals.
   *
   * `pieces`: (`pieceCol`, `scoreCol`) — the trained table (e.g.
   * [[trainUnigram]]'s output). Returns `vocab` plus `_pieces`
   * (array<string>, backtrace order — reverse for reading order,
   * matching [[viterbiPieces]]). A word with no segmentable length
   * (< 1 char) generates NO span rows (guarded below — Spark's
   * sequence(1, 0) is the descending [1, 0], not empty), so it
   * keeps a null span map, a degenerate dp of [0], and EMPTY (not
   * null) pieces — the walk starts at pos = 0 and emits nothing.
   */
  def segmentJoined(vocab: DataFrame, wCol: String, pieces: DataFrame,
                    pieceCol: String = "piece",
                    scoreCol: String = "score_micros"): DataFrame = {
    val spans = vocab.select(col(wCol).as("_w")).distinct()
      .filter(length(col("_w")) >= 1)
      .select(col("_w"), explode(expr(
        s"flatten(transform(sequence(1, length(_w)), i -> " +
          s"transform(sequence(1, least($MaxPiece, i)), " +
          s"k -> struct(i * 8 + k AS key, k AS k, substring(_w, i - k + 1, k) AS p))))"))
        .as("sp"))
      .select(col("_w"), col("sp.key").as("_key"), col("sp.k").as("_k"),
        col("sp.p").as("_p"))
    // exact-duplicate piece rows (a table built from two appends, or
    // unioned trainings agreeing on a piece) collapse harmlessly here;
    // a table carrying the SAME piece at DIFFERENT scores is a
    // genuine ambiguity and still fails loudly at the map fold
    // (DUPLICATE_MAP_KEY) rather than silently picking one
    val pieceTab = pieces.select(col(pieceCol).as("_p"),
      col(scoreCol).cast("long").as("_sc")).dropDuplicates("_p", "_sc")
    val scored = spans
      .join(broadcast(pieceTab), Seq("_p"), "left")
      // a missing single char segments at the Neg floor (a key for
      // every (pos, 1) ALWAYS lands in the map); a missing multi-char
      // span is simply not a candidate — dropped here, coalesced to
      // Invalid at lookup, exactly the typedLit form's semantics
      .filter(col("_sc").isNotNull || col("_k") === 1)
      .select(col("_w"), col("_key"),
        coalesce(col("_sc"), lit(Neg)).as("_sc"))
    val maps = scored.groupBy("_w")
      .agg(map_from_entries(collect_list(struct(col("_key"), col("_sc"))))
        .as("_smap"))
    vocab.join(maps, col(wCol) === maps("_w"), "left").drop("_w")
      .withColumn("_dp", dpFromMap(col(wCol), col("_smap")))
      .withColumn("_pieces", piecesFromMap(col(wCol), col("_dp"), col("_smap")))
      .drop("_smap", "_dp")
  }

  /** The smoothed integer-micros re-score: one tiny aggregate
    * broadcast back — score = round(ln((cnt+1)/(tot+np))·1e6), the
    * exact expression shape the DuckDB oracle replays. */
  private def rescore(pieces: DataFrame): DataFrame = {
    val tots = pieces.agg(sum("cnt").as("tot"), count(lit(1)).as("np"))
    pieces.crossJoin(broadcast(tots))
      .withColumn("score_micros",
        round(log((col("cnt") + 1).cast("double") /
          (col("tot") + col("np")).cast("double")) * 1000000).cast("long"))
      .select("piece", "cnt", "score_micros")
  }

  /**
   * The k-round trainer. `vocab0`: (word, freq) — the one corpus
   * collapse is the caller's groupBy. Seeds all single chars plus the
   * `seedMulti` most frequent substrings of length 2..4 (occurrence-
   * weighted, ties piece ASC), then `rounds` E/M rounds keeping
   * `keepMulti` multi-char pieces. Returns the final
   * (piece, cnt, score_micros) table ordered (cnt DESC, piece ASC) —
   * vocabulary-sized metadata. Driver traffic per round: ONE
   * piece-table collect (≤ chars + keepMulti rows).
   */
  def trainUnigram(vocab0: DataFrame, wCol: String, freqCol: String,
                   rounds: Int = 2, seedMulti: Int = 32,
                   keepMulti: Int = 24): DataFrame = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    trainUnigramTable(vocab0, wCol, freqCol, rounds, seedMulti, keepMulti)
      .toDF("piece", "cnt", "score_micros")
      .orderBy(desc("cnt"), asc("piece"))
  }

  /** The trainer's collected piece table (piece, cnt, score_micros) —
    * exposed so train -> APPLY compositions can segment under the
    * learned scores without re-deriving them. */
  def trainUnigramTable(vocab0: DataFrame, wCol: String, freqCol: String,
                        rounds: Int = 2, seedMulti: Int = 32,
                        keepMulti: Int = 24): Seq[(String, Long, Long)] = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    val vocab = vocab0
      .filter(length(col(wCol)).between(2, MaxWordLen))
      .select(col(wCol).as("w"), col(freqCol).cast("long").as("freq"))
      .checkpointed() // re-segmented every round
    val subs = vocab.select(col("freq"), explode(expr(
        s"flatten(transform(sequence(1, length(w)), i -> " +
          s"transform(sequence(1, least($MaxPiece, length(w) - i + 1)), " +
          s"l -> substring(w, i, l))))")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
      .checkpointed() // chars AND the multi top-k read it
    val seed = subs.filter(length(col("piece")) === 1)
      .unionByName(subs.filter(length(col("piece")) >= 2)
        .orderBy(desc("cnt"), asc("piece")).limit(seedMulti))
    var pieceTab: Seq[(String, Long, Long)] = rescore(seed).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val charPieces = pieceTab.filter(_._1.length == 1).map(_._1)
    for (_ <- 1 to rounds) {
      val smap = pieceTab.map(t => t._1 -> t._3).toMap
      val segCounts = vocab
        .withColumn("_dp", viterbiDp(col("w"), smap))
        .select(col("freq"),
          explode(viterbiPieces(col("w"), col("_dp"), smap)).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
        .checkpointed() // char keep AND the multi top-k read it
      val chars = charPieces.toDF("piece")
        .join(segCounts, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      val multi = segCounts.filter(length(col("piece")) >= 2)
        .orderBy(desc("cnt"), asc("piece")).limit(keepMulti)
      pieceTab = rescore(chars.unionByName(multi)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      graft.operators.Checkpoints.free(segCounts) // the round's counts live on in pieceTab
    }
    pieceTab
  }
}
