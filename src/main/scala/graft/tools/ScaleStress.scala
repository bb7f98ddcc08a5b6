package graft.tools

import graft.operators.Checkpoints.Checkpointed
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scale-sanity experiment: replicate the documents corpus Nx (ids
  * shifted so replicas are exact near-dups of their originals) and
  * time the MinHash+LSH pipeline at each multiple; likewise the
  * embeddings corpus for the LSH-bucketed embedding near-dup.
  * Sub-quadratic growth here is the evidence that the banding/bucket
  * candidates, not an all-pairs join, are carrying the load.
  * Usage: runMain graft.tools.Dev scale <sfDir> [multiples...]
  * SPARK_GRAFT_STRESS=<substring> runs just the matching sections. */
object ScaleStress {
  def run(spark: SparkSession, sfDir: String, multiples: Seq[Int]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_STRESS")
    def wanted(label: String): Boolean = only.forall(label.contains)
    // each multiple runs in its own Bench.isolated scope: its caches,
    // checkpoints and temp work dirs are gone before the next one, so
    // executor storage does not accrue across the stress run (ADVICE r15)
    def isolatedEach[A](xs: Seq[A])(body: A => Unit): Unit =
      xs.foreach(x => graft.Bench.isolated(spark)(body(x)))
    val base = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    base.count() // warm

    // One replication + timing scaffold for all document-corpus runs:
    // the id offset keeps replica ids disjoint and MUST stay identical
    // across sections so their datasets are comparable.
    def docRun(label: String)(op: org.apache.spark.sql.DataFrame => Long): Unit =
      if (wanted(label)) isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val out = op(corpus)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE $label%-7s m=$m%2d docs=$n%7d out=$out%9d time=$dt%7.1fs")
      }

    // Replicas are exact near-dups of their originals: sub-quadratic
    // growth here is the banding/bucket evidence.
    docRun("minhash")(c => Dedup.minhashNearDups(c, "doc_id", "text").count())
    // Prefix-filtered EXACT join: same ground truth as minhash (which
    // has a recall caveat) — time should track the prefix-token join
    // fan-out, staying far below the quadratic form's growth.
    docRun("prefix")(c => Dedup.prefixFilterNearDups(c, "doc_id", "text").count())
    // Prefix-filtered EXACT containment join: identical replicas are
    // mutual containments, so true directional pairs grow with
    // replica pairs (n·m·(m−1)); wall should track the contained-side
    // prefix probe fan-out (rare-token postings), far below the
    // quadratic shingle join.
    docRun("contain")(c => Dedup.containmentPairs(c, "doc_id", "text").count())
    // Duplicated-span extraction: replicas make EVERY position of
    // every doc covered (each doc's windows recur in its m-1
    // replicas), so output grows ~docs x m (one whole-doc span each)
    // while the work stays postings-shaped — one gram-keyed agg, one
    // gram-keyed join, one doc-keyed window. Wall must track corpus
    // ~linearly (output-bound), never the gram-frequency square the
    // quadratic oracle pays.
    docRun("dupspan")(c => Dedup.duplicatedSpans(c, "doc_id", "text").count())
    // Incremental dup-span probe: the CORPUS (and its one-time gram
    // summary) grows m-fold while the arriving batch stays FIXED —
    // tindex may track the corpus; tprobe (batch postings + one gram
    // equi-join against the summary + batch-partitioned islands) must
    // track the BATCH, the daily-ingest claim of the persisted-index
    // path.
    if (wanted("dupspaninc")) {
      val batch = base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val index = Dedup.gramSpanSummary(corpus, "doc_id", "text").checkpointed()
        val ni = index.count()
        val t1 = System.nanoTime()
        val out = Dedup.dupSpansIncremental(index, batch, "doc_id", "text").count()
        val t2 = System.nanoTime()
        println(f"SCALE dspaninc m=$m%2d docs=$n%7d grams=$ni%8d spans=$out%7d " +
          f"tindex=${(t1 - t0) / 1e9}%6.1fs tprobe=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // CHAR-grained incremental dup-span probe (the dspaninc claim for
    // the no-space-script grain): corpus and its one-time CHAR-gram
    // summary grow m-fold, the batch stays fixed; tprobe must track
    // the batch's char-posting count (one row per character — the
    // stated ~5x premium over word grain), never the corpus.
    if (wanted("cspaninc")) {
      val batch = base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val index = Dedup.charGramSpanSummary(corpus, "doc_id", "text").checkpointed()
        val ni = index.count()
        val t1 = System.nanoTime()
        val out = Dedup.dupSpansCharsIncremental(index, batch, "doc_id", "text").count()
        val t2 = System.nanoTime()
        println(f"SCALE cspaninc m=$m%2d docs=$n%7d grams=$ni%9d spans=$out%7d " +
          f"tindex=${(t1 - t0) / 1e9}%6.1fs tprobe=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // Incremental BM25 maintenance (bm25IncrementalTables'
    // composition): the corpus — and its one-time posting build —
    // grows m-fold while the arriving batch stays FIXED. tbuild
    // tracks the corpus pass; tappend — the batch's own posting
    // extraction + a batch-sized stats row merged against the
    // COLLECTED previous stats (one row, metadata) — must stay FLAT
    // at 10x corpus: no existing posting is rewritten (raw dl +
    // query-time norms) and df needs no maintenance at all.
    if (wanted("bm25inc")) {
      val batch = base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val np = graft.TextQueries.bm25RawPostings(corpus).count()
        val prev = graft.TextQueries.bm25StatsOf(corpus).collect()(0)
        val t1 = System.nanoTime()
        val nb = graft.TextQueries.bm25RawPostings(batch).count()
        val bs = graft.TextQueries.bm25StatsOf(batch).collect()(0)
        val newD = prev.getLong(0) + bs.getLong(0) // the one-row upsert
        val t2 = System.nanoTime()
        println(f"SCALE bm25inc m=$m%2d docs=$n%7d postings=$np%9d batch_p=$nb%8d " +
          f"d=$newD%7d tbuild=${(t1 - t0) / 1e9}%6.1fs tappend=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // Exactly-once BM25 ingest (ingestBm25Batch — the batch-protocol
    // form behind INGEST_BM25_DESTINATION): the standing state grows
    // m-fold (its build pass is tstate, paid once per corpus batch
    // over the ingest's life) while the arriving batch stays FIXED.
    // tingest — the batch's own tokenization written under its
    // batch=<id> partition plus the one-row stats delta — must stay
    // FLAT at 10x corpus (the kernel reads NO prior state); tserve —
    // a 3-term query through the folded stats + bucket-pruned
    // postings — must stay near-flat (it reads the terms' buckets of
    // each batch partition, never the corpus text).
    if (wanted("bm25ing")) {
      val batch = base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val state = graft.CacheDirs.tempWorkDir("graft_stress_bm25ing_").toString
        val t0 = System.nanoTime()
        graft.streaming.EventStreams.ingestBm25Batch(spark, corpus, state, 0L)
        val t1 = System.nanoTime()
        graft.streaming.EventStreams.ingestBm25Batch(spark, batch, state, 1L)
        val t2 = System.nanoTime()
        val top = graft.TextQueries.bm25IngestTopK(spark, state,
          Seq("spark", "merge", "window"), 10).count()
        val t3 = System.nanoTime()
        println(f"SCALE bm25ing m=$m%2d docs=$n%7d top=$top%3d " +
          f"tstate=${(t1 - t0) / 1e9}%6.1fs tingest=${(t2 - t1) / 1e9}%6.1fs " +
          f"tserve=${(t3 - t2) / 1e9}%6.1fs")
      }
    }
    // Corpus-frequency statistic (dup-gram fraction): two gram-keyed
    // shuffles are inherent; time should track corpus size ~linearly.
    docRun("dupgram")(c =>
      graft.operators.Contamination.duplicateGramFraction(c, "doc_id", "text").count())
    // Distributed-rank corpus shuffle: the offsets table stays at
    // `buckets` rows regardless of corpus size.
    docRun("shuffle")(c =>
      graft.operators.Sampling.deterministicShuffle(c.select("doc_id"), "doc_id").count())
    // BPE encode under replication: replicas add NO new words, so the
    // vocabulary (and the per-word encode work) is m-INVARIANT — the
    // wall tracks only the corpus-side word count aggregation
    // (~linear), never corpus x merges. The 100 TB claim of the
    // vocab-collapsed encode, measured.
    docRun("bpe") { c =>
      val words = c.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) >= 2)
      val vocab = words.groupBy("w").agg(count(lit(1)).as("freq")).checkpointed()
      val merges = vocab.select(col("freq"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(desc("n"), asc("pair")).limit(10)
        .collect().map(_.getString(0)).toSeq
      val enc = vocab.select(col("w"), graft.functions.Bpe.nTokens(
        graft.functions.Bpe.encodeFramed(col("w"), merges)).as("n_tok"))
      words.groupBy("w").agg(count(lit(1)).as("c")).join(enc, Seq("w"))
        .agg(sum(col("c") * col("n_tok"))).collect()(0).getLong(0)
    }
    // Iterative BPE TRAINER under replication: replicas add
    // occurrences but no new word TYPES, so the vocabulary — the only
    // thing the k-round select/apply/recount loop touches after the
    // one corpus groupBy — is m-INVARIANT. tvocab (the corpus pass)
    // may track m; ttrain (10 rounds of re-encode + pair recount on
    // the vocab) must stay FLAT at 10x corpus — the 100 TB claim of
    // vocab-collapsed training, measured.
    if (wanted("bpetrain")) {
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val vocab = corpus.select(explode(split(col("text"), " ")).as("w"))
          .filter(length(col("w")) >= 2)
          .groupBy("w").agg(count(lit(1)).as("freq")).checkpointed()
        val nv = vocab.count()
        val t1 = System.nanoTime()
        val merges = graft.functions.Bpe.trainMerges(vocab, "w", "freq", rounds = 10)
        val t2 = System.nanoTime()
        println(f"SCALE bpetrain m=$m%2d docs=$n%7d vocab=$nv%7d merges=${merges.size}%2d " +
          f"nsum=${merges.map(_._3).sum}%10d tvocab=${(t1 - t0) / 1e9}%6.1fs ttrain=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // Unigram-LM trainer under replication: same claim as bpetrain —
    // replicas add occurrences but no word TYPES, so after the one
    // corpus collapse every E/M round (vocab-sized Viterbi + piece
    // recount + metadata collect) is m-INVARIANT: tvocab may track m,
    // ttrain must stay FLAT at 10x corpus.
    if (wanted("unigram")) {
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val vocab = corpus.select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("freq")).checkpointed()
        val nv = vocab.count()
        val t1 = System.nanoTime()
        val pieces = graft.functions.Unigram.trainUnigram(
          vocab, "w", "freq", rounds = 2, seedMulti = 32, keepMulti = 24).collect()
        val t2 = System.nanoTime()
        println(f"SCALE unigram m=$m%2d docs=$n%7d vocab=$nv%7d pieces=${pieces.length}%3d " +
          f"csum=${pieces.map(_.getLong(1)).sum}%11d tvocab=${(t1 - t0) / 1e9}%6.1fs ttrain=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // Hashed-n-gram classifier apply under replication: the weight
    // table is FLAT at 1024 rows whatever the corpus, application is
    // a map-side explode + broadcast join + doc-keyed sum — wall must
    // track the corpus ~linearly.
    docRun("qclass") { c =>
      val bigrams = "CASE WHEN size(w) >= 2 THEN transform(sequence(1, size(w) - 1)," +
        " i -> concat(element_at(w, i), '_', element_at(w, i + 1))) ELSE array() END"
      def feats(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), expr("filter(split(text, ' '), t -> t != '')").as("w"))
        .select(col("doc_id"), explode(concat(col("w"), expr(bigrams))).as("f"))
        .select(col("doc_id"),
          expr("CAST(conv(substring(md5(f), 6, 3), 16, 10) AS INT) % 1024").as("b"))
      val train = feats(c.filter(col("doc_id") % 5 =!= 0))
        .groupBy("b").agg(
          sum(when(col("doc_id") % 3 === 0, 1L).otherwise(0L)).as("pos"),
          sum(when(col("doc_id") % 3 === 0, 0L).otherwise(1L)).as("neg"))
      val tot = train.agg(
        coalesce(sum("pos"), lit(0L)).as("pt"), coalesce(sum("neg"), lit(0L)).as("nt"))
      val wt = spark.range(0, 1024).select(col("id").cast("int").as("b"))
        .join(train, Seq("b"), "left")
        .select(col("b"), coalesce(col("pos"), lit(0L)).as("pos"),
          coalesce(col("neg"), lit(0L)).as("neg"))
        .crossJoin(broadcast(tot))
        .select(col("b"),
          round(log(((col("pos") + 1) * (col("nt") + 1024)).cast("double") /
            ((col("neg") + 1) * (col("pt") + 1024)).cast("double")) * 1000000)
            .cast("long").as("w_micro"))
      feats(c.filter(col("doc_id") % 5 === 0)).join(broadcast(wt), Seq("b"))
        .groupBy("doc_id").agg(sum("w_micro").as("s")).count()
    }
    // Inverted-index serving: inline search re-tokenizes the corpus
    // per query (tracks corpus size); the persisted token-bucketed
    // index pays one build pass, then each query reads k of 64
    // buckets — qidx should grow far slower than qinline as m grows.
    if (wanted("tokidx")) {
      val must = Seq("spark", "merge", "window")
      def search(postings: org.apache.spark.sql.DataFrame): Long =
        postings.filter(col("token").isin(must: _*))
          .groupBy("doc_id").agg(count(lit(1)).as("n"))
          .filter(col("n") === must.size).count()
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_tokidx_")
        corpus.withColumn("lang", lit("en")).withColumn("source", lit("x"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .write.parquet(s"$work/documents.parquet")
        val t0 = System.nanoTime()
        val inlineHits = search(spark.read.parquet(s"$work/documents.parquet")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("token")))
        val t1 = System.nanoTime()
        val postings = graft.TextQueries.tokenPostingsTable(spark, work.toString)
        postings.count() // force the build
        val t2 = System.nanoTime()
        val idxHits = search(postings)
        val t3 = System.nanoTime()
        require(inlineHits == idxHits, s"index disagrees: $inlineHits vs $idxHits")
        println(f"SCALE tokidx  m=$m%2d docs=$n%7d hits=$idxHits%7d " +
          f"qinline=${(t1 - t0) / 1e9}%6.1fs build=${(t2 - t1) / 1e9}%6.1fs qidx=${(t3 - t2) / 1e9}%6.1fs")
      }
    }
    // BM25 ranked retrieval off the persisted index: build cost may
    // track the corpus (one pass, paid once per fingerprint); the
    // SCORING query reads only the 3 fixed terms' buckets, so qbm25
    // must stay ~flat in corpus size — the serving claim on the gate.
    if (wanted("bm25")) {
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_bm25_")
        corpus.withColumn("lang", lit("en")).withColumn("source", lit("x"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .write.parquet(s"$work/documents.parquet")
        val t0 = System.nanoTime()
        val (postings, stats) = graft.TextQueries.bm25IndexTables(spark, work.toString)
        postings.count() // force the build
        val t1 = System.nanoTime()
        val terms = Seq("spark", "merge", "window")
        val hits = postings.filter(col("token").isin(terms: _*))
        val idf = hits.groupBy("token").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(stats))
          .select(col("token"),
            round(log(lit(2.0) * (col("d") + 1) / (col("df") * 2 + 1)) * 1000)
              .cast("long").as("idf_pm"))
        val top = hits.join(broadcast(idf), Seq("token"))
          .select(col("doc_id"),
            expr("(idf_pm * 22000 * tf * 1000) div (10000 * tf + 3000 + 9 * norm_permille)")
              .as("contrib"))
          .groupBy("doc_id").agg(sum("contrib").as("score_micro"))
          .orderBy(desc("score_micro"), col("doc_id")).limit(10)
          .collect()
        val t2 = System.nanoTime()
        println(f"SCALE bm25    m=$m%2d docs=$n%7d top=${top.length}%2d " +
          f"maxscore=${top.head.getLong(1)}%9d build=${(t1 - t0) / 1e9}%6.1fs qbm25=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // RRF hybrid retrieval: the lexical leg reads only the 3 query
    // terms' index buckets (must stay ~flat, same claim as qbm25);
    // the dense leg is DELIBERATELY the brute-force scan — its wall
    // is the linear-in-corpus first-stage bound the ANN paths
    // (ivfTopK/annTopK) replace at scale — and the fusion itself
    // touches 40 rows whatever m is. The two legs are timed apart so
    // the flat/linear split is on the record.
    if (wanted("rrf")) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      emb0.count() // warm
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val work = graft.CacheDirs.tempWorkDir("graft_stress_rrf_")
        corpus.withColumn("lang", lit("en")).withColumn("source", lit("x"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .write.parquet(s"$work/documents.parquet")
        // the MAINTAINED incremental index — the gate's serving path
        // since r18 (query-time norms off the one-row stats)
        val (postings, stats) = graft.TextQueries.bm25IncrementalTables(spark, work.toString)
        postings.count() // build paid outside the serving timers
        val terms = Seq("spark", "merge", "window")
        val t0 = System.nanoTime()
        val lex = graft.TextQueries.bm25ScoreTerms(postings, stats, terms, 20).collect()
        val t1 = System.nanoTime()
        val embM = (0 until m).map(i =>
          emb0.withColumn("vec_id", col("vec_id") + lit(i * 10000000L)))
          .reduce(_ unionByName _)
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
        val probe = emb0.filter(col("vec_id") === 0)
          .withColumn("e", col("embedding").cast(ArrayType(DoubleType)))
          .select(col("e").as("probe_e"))
        val dense = Similarity.bruteForceTopK(
          embM.filter(col("vec_id") =!= 0), probe, "e", 20).collect()
        val t2 = System.nanoTime()
        println(f"SCALE rrf     m=$m%2d docs=${corpus.count()}%7d lex=${lex.length}%2d " +
          f"dense=${dense.length}%2d qlex=${(t1 - t0) / 1e9}%6.1fs qdense=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // Banded perceptual near-dup join: replicas share their
    // original's aHash exactly (hamming 0), so true pairs grow
    // n·m(m−1)/2 while the band join's candidate stream stays
    // (band, chunk)-keyed — wall must be output-bound like the
    // minhash/simhash families, never corpus-quadratic.
    docRun("phashnd") { c =>
      import spark.implicits._
      val media = graft.multimodal.Multimodal.asMedia(
        c.withColumn("payload", encode(col("text"), "UTF-8")),
        "doc_id", "payload", "text/utf-8")
      val ph = graft.multimodal.Multimodal
        .frameSample(media, frameSize = 64, everyK = 1)
        .filter(_.frame_idx == 0)
        .map { f =>
          val n = f.frame.length
          var sum = 0L; var i = 0
          while (i < n) { sum += (f.frame(i) & 0xff).toLong; i += 1 }
          val mean = sum / n
          var lo = 0L; var hi = 0L; i = 0
          while (i < n) {
            if ((f.frame(i) & 0xff).toLong > mean) {
              if (i < 32) lo |= 1L << i else hi |= 1L << (i - 32)
            }
            i += 1
          }
          (f.media_id, hi, lo)
        }.toDF("media_id", "phash_hi", "phash_lo").checkpointed()
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
        .count()
    }
    // OOV-rate monitoring: replicas add occurrences but no new TYPES,
    // so the top-1000 vocabulary is m-invariant and the classification
    // pass is one broadcast probe over the occurrence stream — wall
    // must track corpus size ~linearly with a small constant.
    docRun("oov") { c =>
      val toks = c.withColumn("source", lit("x"))
        .select(col("source"), explode(split(col("text"), " ")).as("token"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("token")).limit(1000)
        .select("token").checkpointed()
      toks.join(broadcast(vocab.withColumn("_in", lit(1L))), Seq("token"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("_in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .count()
    }
    // Bigram-surprisal scoring: disjoint replicas add tokens but NO
    // new bigram TYPES, so the model tables (t1 and (t1,t2) counts)
    // are m-invariant while the scoring join's probe side grows with
    // the corpus — wall must track corpus size ~linearly, never the
    // model-cross-corpus product.
    docRun("bigram") { c =>
      val docs = c.select(col("doc_id"), split(col("text"), " ").as("w"))
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
        .count()
    }
    // Dedup decision tier: clusters = minhash pairs + CC iterations
    // (pair graph is tiny vs corpus — iteration cost must NOT scale
    // like the corpus); incremental = 10% fresh batch vs 90% corpus
    // sketch (cost should track the batch + one corpus sketch pass).
    // md5-bit SimHash (the oracle-portable variant): replicas are
    // exact dups (hamming 0), so true pairs grow n·m(m−1)/2 — wall
    // should be output-bound like minhash, never corpus-quadratic.
    docRun("simhmd5")(c => Dedup.simhashMd5NearDups(
      Dedup.simhashMd5(c, "doc_id", "text"), "doc_id").count())
    docRun("cluster")(c => Dedup.clusters(Dedup.minhashNearDups(c, "doc_id", "text")).count())
    // Pathological duplicate CLUSTER — the corpus shape near-dedup
    // exists for: n exact copies of ONE document share every band
    // key. The former collect_set bucket collapse materialized the
    // cluster's n·(n−1)/2 pair structs inside ONE aggregation buffer
    // (oldbufpairs below — ~5·10⁷ structs at n=10⁴, an executor OOM
    // at web-corpus cluster sizes); the (band, key) equi-join buffers
    // only one key GROUP per task (bucketmax rows, linear in n) and
    // STREAMS the quadratic pair output. Evidence: both reworked
    // paths complete end-to-end at n >= 10⁴ copies (m=4), wall is
    // output-bound (~m²), and the per-task buffered state (bucketmax)
    // grows linearly while oldbufpairs — what the collapse held —
    // grows quadratically.
    if (wanted("hotdup")) {
      val words = "alpha bravo charlie delta echo foxtrot golf hotel " +
        "india juliet kilo lima mike november oscar papa"
      isolatedEach(multiples) { m =>
        val n = 2500L * m
        val docs = spark.range(n).select(col("id").as("doc_id"), lit(words).as("text"))
        docs.count() // warm
        val fps = Dedup.simhash(docs, "doc_id", "text")
        var t0 = System.nanoTime()
        val outS = Dedup.simhashNearDups(fps, "doc_id").count()
        val tS = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val outM = Dedup.minhashNearDups(docs, "doc_id", "text", bands = 8).count()
        val tM = (System.nanoTime() - t0) / 1e9
        require(outS == n * (n - 1) / 2 && outM == n * (n - 1) / 2,
          s"identical-copy cluster must pair completely: sim=$outS min=$outM n=$n")
        // per-task buffered state of the equi-join = one (band, key)
        // bucket; the collapse buffered that bucket's full pair set
        val bucketMax = Dedup.signatureBandRows(docs, "doc_id", "text", bands = 8)
          .groupBy("band", "band_key").count()
          .agg(max("count")).head().getLong(0)
        println(f"SCALE hotdup  m=$m%2d copies=$n%6d out=$outS%10d tsimhash=$tS%6.1fs " +
          f"tminhash=$tM%6.1fs bucketmax=$bucketMax%6d oldbufpairs=${bucketMax * (bucketMax - 1) / 2}%11d")
      }
    }
    docRun("increm")(c => Dedup.incrementalNearDups(
      c.filter(col("doc_id") % 10 =!= 0), c.filter(col("doc_id") % 10 === 0),
      "doc_id", "text").count())
    // Incremental JOIN-view refresh vs full recompute: fixed deltas
    // (1/600 of base orders, 1/300 of customers as NEW keys) against
    // an m×-growing history. The refresh computes ONLY the delta
    // rows' joins (V_old is already materialized and append-only):
    // tfull pays the history×dim shuffle join every time, trefresh
    // pays ΔA⋈B plus one map-side broadcast pass of A for A⋈ΔB — the
    // slope gap is the maintenance win, and the remaining linear
    // A-scan term is the honest reason deltaJoin's doc points
    // dimension deltas at a bucket-pruned layout.
    if (wanted("incrjoin")) {
      val ob = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_custkey", "o_orderkey", "o_totalprice")
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      val dA = ob.filter(col("o_orderkey") % 600 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(8000000000L))
      val dB = cust.filter(col("o_custkey") % 300 === 0)
        .withColumn("o_custkey", col("o_custkey") + lit(8000000000L))
      isolatedEach(multiples) { m =>
        val a = (0 until m).map(i => ob.withColumn("o_orderkey",
          col("o_orderkey") + lit(i * 100000000L))).reduce(_ unionByName _)
        val nA = a.count()
        var t0 = System.nanoTime()
        val full = a.unionByName(dA).join(cust.unionByName(dB), Seq("o_custkey")).count()
        val tFull = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val deltaRows = graft.operators.IncrementalAgg.deltaJoin(
          spark.emptyDataFrame.sparkSession.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            a.join(cust, Seq("o_custkey")).schema),
          a, dA, cust, dB, Seq("o_custkey")).count()
        val tDelta = (System.nanoTime() - t0) / 1e9
        println(f"SCALE incrjoin m=$m%2d orders=$nA%8d full=$full%9d tfull=$tFull%6.1fs deltarows=$deltaRows%7d trefresh=$tDelta%6.1fs")
      }
    }
    // Bloom decontamination: eval side FIXED (benchmarks are bounded);
    // cost must track the training corpus ~linearly — the probe is
    // map-side, only candidates reach the exact gram join.
    docRun("bloomdc")(c => graft.operators.Contamination.flagContaminatedBloom(
      c, base.filter(col("doc_id") % 25 === 0), "doc_id", "text", n = 4).count())
    // Segmented rank: 4-value partition key — the plain window would
    // cap at 4 tasks regardless of corpus size; two-phase cost should
    // track corpus size on a 32-way box.
    docRun("segrank")(c => graft.operators.Ranking.segmentedRanks(
      c.select(col("doc_id"), pmod(col("doc_id"), lit(4L)).as("p"),
        length(col("text")).cast("long").as("q")),
      "p", Seq("q", "doc_id"), buckets = 32, ntiles = Some(10)).count())
    // Grouped cumulative weights (rank-defined group percentiles):
    // 3-value group key over a growing fact table. The naive form —
    // sum() OVER (PARTITION BY flag ORDER BY price ROWS UNBOUNDED
    // PRECEDING) — caps at 3 tasks whatever the corpus size; the
    // two-phase form's only fact-sized exchange is the well-keyed
    // groupBy(flag, price), so its wall tracks rows on a 32-way box
    // while the window form tracks rows-per-key on 3 threads. Both
    // computed to the same weighted-median answer each m.
    if (wanted("cumw")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_quantity").cast("long").as("wt"),
          col("l_orderkey"), col("l_linenumber"))
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val li = (0 until m).map(i =>
          li0.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L)))
          .reduce(_ unionByName _)
        val n = li.count()
        val t0 = System.nanoTime()
        val cw = graft.operators.Ranking.groupedCumWeights(
          li, Seq("l_returnflag"), "l_extendedprice", col("wt"), bandWidth = 1000.0)
        val out = cw.filter(col("cum_w") * 2 >= col("tot_w"))
          .groupBy("l_returnflag")
          .agg(min("l_extendedprice").as("wm")).count()
        val t2p = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val ord = org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag")
          .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        li.withColumn("cum", sum("wt").over(ord))
          .withColumn("tot", sum("wt").over(
            org.apache.spark.sql.expressions.Window.partitionBy("l_returnflag")))
          .filter(col("cum") * 2 >= col("tot"))
          .groupBy("l_returnflag")
          .agg(min("l_extendedprice").as("wm")).count()
        val tw = (System.nanoTime() - t1) / 1e9
        println(f"SCALE cumw    m=$m%2d rows=$n%8d out=$out%3d twophase=$t2p%6.1fs window3key=$tw%6.1fs")
      }
    }
    // FastSS edit-distance-1 join: corpus of formatted id-names (the
    // supplier-name shape) — true pairs are ids differing in one
    // digit, so output grows with the corpus while the quadratic
    // form's comparisons grow with its square. Wall must track
    // corpus x name-length (the variant fan-out), nowhere near n².
    if (wanted("editd")) {
      isolatedEach(multiples) { m =>
        val n = 5000L * m
        val names = spark.range(n).select(col("id"),
          format_string("Item#%09d", col("id")).as("nm"))
        names.count() // warm
        val t0 = System.nanoTime()
        val out = graft.operators.Dedup.editDistance1Pairs(names, "id", "nm").count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE editd   m=$m%2d names=$n%7d out=$out%9d time=$dt%7.1fs")
      }
    }
    // FastSS at k=2: the C(L,2) two-deletion neighborhood multiplies
    // the index (~L²/2 variants per name) but the join stays
    // variant-keyed — wall must track index + output size, never
    // names².
    if (wanted("editd2")) {
      isolatedEach(multiples) { m =>
        val n = 2000L * m
        val names = spark.range(n).select(col("id"),
          format_string("Item#%09d", col("id")).as("nm"))
        names.count() // warm
        val t0 = System.nanoTime()
        val out = graft.operators.Dedup
          .editDistancePairs(names, "id", "nm", maxDist = 2).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE editd2  m=$m%2d names=$n%7d out=$out%9d time=$dt%7.1fs")
      }
    }
    // Full k-core fixpoint under replication: replica graphs are
    // key-disjoint, so peeling depth stays the base graph's fringe
    // depth (driver round count CONSTANT) while the per-round
    // aggregation tracks the edge set ~linearly.
    if (wanted("kcore")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val it = (0 until m).map(i => li0.select(
          (col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i * 10000000L)).as("l_partkey")))
          .reduce(_ unionByName _).distinct()
        val a = it.select(col("l_orderkey"), col("l_partkey").as("u"))
        val b = it.select(col("l_orderkey"), col("l_partkey").as("v"))
        val e = a.join(b, Seq("l_orderkey")).filter(col("u") < col("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select("u", "v")
        val ne = e.count()
        val t0 = System.nanoTime()
        val core = graft.operators.Graphs.kCore(e, 3).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE kcore   m=$m%2d edges=$ne%8d core=$core%8d time=$dt%7.1fs")
      }
    }
    // PageRank to convergence: disjoint replicas reproduce the base
    // graph's rank dynamics node-for-node, so the CONVERGENCE ROUND
    // count (a mixing property) is m-invariant while per-round work
    // tracks the edge list — wall must grow ~linearly in edges,
    // never edges x extra rounds.
    if (wanted("pagerank")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val it = (0 until m).map(i => li0.select(
          (col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i * 10000000L)).as("l_partkey")))
          .reduce(_ unionByName _).distinct()
        val a = it.select(col("l_orderkey"), col("l_partkey").as("u"))
        val b = it.select(col("l_orderkey"), col("l_partkey").as("v"))
        val e = a.join(b, Seq("l_orderkey")).filter(col("u") < col("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select("u", "v")
        val sym = graft.operators.Graphs.symmetric(e)
          .select(col("u").as("src"), col("v").as("dst"))
        val ne = sym.count() / 2
        val t0 = System.nanoTime()
        val n = graft.operators.Graphs.pageRank(sym).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE pagerank m=$m%2d edges=$ne%8d nodes=$n%8d time=$dt%7.1fs")
      }
    }
    // Full core decomposition (h-index fixpoint): disjoint replicas
    // leave every node's coreness unchanged, so the ROUND count is
    // m-invariant (the fixpoint depth of one replica) while per-round
    // work tracks edges — wall must grow ~linearly in edges, never
    // in edges x rounds².
    if (wanted("corenum")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val it = (0 until m).map(i => li0.select(
          (col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i * 10000000L)).as("l_partkey")))
          .reduce(_ unionByName _).distinct()
        val a = it.select(col("l_orderkey"), col("l_partkey").as("u"))
        val b = it.select(col("l_orderkey"), col("l_partkey").as("v"))
        val e = a.join(b, Seq("l_orderkey")).filter(col("u") < col("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select("u", "v")
        val ne = e.count()
        val t0 = System.nanoTime()
        val maxCore = graft.operators.Graphs.coreNumbers(e)
          .agg(max("core_k")).collect()(0).getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE corenum m=$m%2d edges=$ne%8d maxk=$maxCore%4d time=$dt%7.1fs")
      }
    }
    // HyperBall reach sketch vs the exact 2-hop DISTINCT census under
    // a DENSIFYING replication (same orders, part ids shifted per
    // replica): every replica multiplies order baskets, so node
    // degree grows ~m and the exact census's (seed, reached) gather
    // grows ~Σ deg² while each HyperBall round shuffles |E|
    // fixed-size sketch rows — the walls must separate as m grows
    // (the 100 TB argument the reachSketch scaladoc states).
    if (wanted("reachsk")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val it = (0 until m).map(i => li0.select(
          col("l_orderkey"),
          (col("l_partkey") + lit(i * 10000000L)).as("l_partkey")))
          .reduce(_ unionByName _).distinct()
        val a = it.select(col("l_orderkey"), col("l_partkey").as("u"))
        val b = it.select(col("l_orderkey"), col("l_partkey").as("v"))
        val e = a.join(b, Seq("l_orderkey")).filter(col("u") < col("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select("u", "v")
        val sym = graft.operators.Graphs.symmetric(e).checkpointed()
        val ne = sym.count() / 2
        val t0 = System.nanoTime()
        val skSum = graft.operators.Graphs.reachSketch(sym, hops = 2)
          .agg(sum(expr("hll_sketch_estimate(sk)"))).collect()(0).getLong(0)
        val t1 = System.nanoTime()
        val exactPairs = sym.select(col("u").as("seed"), col("v").as("r"))
          .unionByName(sym.select(col("u").as("seed"), col("v").as("n1"))
            .join(sym.select(col("u").as("n1"), col("v").as("r")), Seq("n1"))
            .select("seed", "r"))
          .filter(col("r") =!= col("seed")).distinct().count()
        val t2 = System.nanoTime()
        println(f"SCALE reachsk m=$m%2d edges=$ne%9d skSum=$skSum%11d " +
          f"exact=$exactPairs%11d tSketch=${(t1 - t0) / 1e9}%7.1fs tExact=${(t2 - t1) / 1e9}%7.1fs")
      }
    }
    // One HITS iteration: disjoint replicas leave every node's
    // hub/authority score unchanged (scores depend only on the
    // replica-local neighborhood), so out and maxhub are m-invariant
    // while wall tracks the edge list ~linearly — the two-aggregate
    // shape's whole cost is its two keyed exchanges.
    if (wanted("hits")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_suppkey", "l_partkey")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val sp = (0 until m).map(i => li0.select(
          (col("l_suppkey") + lit(i * 100000000L)).as("supplier"),
          (col("l_partkey") + lit(i * 10000000L)).as("p")))
          .reduce(_ unionByName _).distinct().checkpointed()
        val ne = sp.count()
        val t0 = System.nanoTime()
        val auth = sp.groupBy("p").agg(count(lit(1)).as("authority"))
        val hubs = sp.join(auth, Seq("p"))
          .groupBy("supplier").agg(sum("authority").as("hub"))
        val (nOut, maxHub) = {
          val r = hubs.agg(count(lit(1)), max("hub")).collect()(0)
          (r.getLong(0), r.getLong(1))
        }
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE hits    m=$m%2d edges=$ne%8d out=$nOut%7d maxhub=$maxHub%7d time=$dt%7.1fs")
      }
    }
    // One label-propagation step: two well-keyed exchanges over the
    // symmetric adjacency — wall must track edges ~linearly (the
    // (node, label) groupBy combines map-side; labels are a bounded
    // domain so combine actually collapses rows).
    if (wanted("lblprop")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val it = (0 until m).map(i => li0.select(
          (col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          (col("l_partkey") + lit(i * 10000000L)).as("l_partkey")))
          .reduce(_ unionByName _).distinct()
        val a = it.select(col("l_orderkey"), col("l_partkey").as("u"))
        val b = it.select(col("l_orderkey"), col("l_partkey").as("v"))
        val e = a.join(b, Seq("l_orderkey")).filter(col("u") < col("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("c"))
          .filter(col("c") >= 2).select("u", "v")
        val ne = e.count()
        val t0 = System.nanoTime()
        val nodes = graft.operators.Graphs.symmetric(e)
          .select(col("u").as("node"), (col("v") % 7).as("lbl"))
          .groupBy("node", "lbl").agg(count(lit(1)).as("c"))
          .groupBy("node")
          .agg(max(struct(col("c").as("c"), (-col("lbl")).as("neg"))).as("m"))
          .count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE lblprop m=$m%2d edges=$ne%8d nodes=$nodes%8d time=$dt%7.1fs")
      }
    }
    // Theta-sketch aggregation: per-group state is one bounded
    // binary (<= 8·2^lgK bytes) however many rows feed it — wall
    // must track rows ~linearly and the result byte size must be
    // FLAT in m (the shuffle-payload bound the UDAF exists for).
    if (wanted("theta")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_returnflag", "l_partkey")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val rows = (0 until m).map(i => li0.select(col("l_returnflag"),
          (col("l_partkey") + lit(i * 10000000L)).as("l_partkey")))
          .reduce(_ unionByName _)
        val n = rows.count()
        val t0 = System.nanoTime()
        val sk = rows.groupBy("l_returnflag")
          .agg(expr("theta_sketch_agg(l_partkey, 12)").as("sk"))
          .select(max(length(col("sk"))).cast("long").as("maxb"))
          .collect()(0).getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE theta   m=$m%2d rows=$n%8d sketchB=$sk%7d time=$dt%7.1fs")
      }
    }
    // Ancestor rollup: replicated part catalogs keep the decimal
    // tree's DEPTH constant (ids only widen), so the closure's round
    // count stays fixed while per-round work tracks the catalog —
    // wall must grow ~linearly in nodes, never in nodes x depth².
    if (wanted("rollup")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_partkey", "l_extendedprice")
      val pt0 = spark.read.parquet(s"$sfDir/part.parquet").select("p_partkey")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val li = (0 until m).map(i => li0.select(
          (col("l_partkey") + lit(i * 10000000L)).as("l_partkey"),
          col("l_extendedprice"))).reduce(_ unionByName _)
        val pt = (0 until m).map(i => pt0.select(
          (col("p_partkey") + lit(i * 10000000L)).as("p_partkey")))
          .reduce(_ unionByName _)
        val n = pt.count()
        val t0 = System.nanoTime()
        val rev = li.groupBy(col("l_partkey").as("node"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("w"))
        val edges = pt.filter(col("p_partkey") >= 10)
          .select(col("p_partkey").as("child"), expr("p_partkey div 10").as("parent"))
        val out = graft.operators.Graphs.ancestorRollup(edges, rev).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE rollup  m=$m%2d parts=$n%8d out=$out%8d time=$dt%7.1fs")
      }
    }
    // Exact quantiles: the bucket-recursion pipeline's JOB COUNT is
    // O(log_buckets(n) + distinct target buckets) and every driver
    // transfer is bounded (boundary sample, histogram, <= probeLimit
    // probe) — wall must grow far slower than corpus size, where a
    // global sort would track it. Value column mixes length with a
    // doc_id residue for high cardinality (forces real recursion).
    // probeLimit shrunk so the corpus exceeds it at every multiple —
    // the 100 TB regime, where recursion (not one bounded sorted
    // collect) is the executing path.
    docRun("exactq")(c => {
      val vals = c.select((length(col("text")).cast("double") +
        pmod(col("doc_id"), lit(997L)).cast("double") / 1000.0).as("v"))
      graft.operators.Ranking.exactQuantiles(vals, "v", Seq(0.5, 0.9, 0.99),
          probeLimit = 2048)
        .map(o => (o.getOrElse(0.0) * 1000).toLong).sum  // checksum as `out`
    })
    // Quality rules: five rules, ONE aggregation pass — wall must
    // track the scan, never rules x scans.
    docRun("quality")(c => {
      val verdicts = graft.operators.Quality.check(c, Seq(
        graft.operators.Quality.NotNull("text"),
        graft.operators.Quality.Unique("doc_id"),
        graft.operators.Quality.InRange("doc_id", 0, 1e18, 0.99),
        graft.operators.Quality.MatchesRegex("text", "^.", 0.9),
        graft.operators.Quality.RowCountBetween(1, Long.MaxValue))).collect()
      verdicts.count(_.getBoolean(4)).toLong
    })
    // HLL distinct maintenance: merge of per-slice sketches vs exact
    // recount — summary stays |keys| rows whatever the corpus.
    docRun("hlldist")(c => {
      val base = c.filter(col("doc_id") % 10 =!= 0)
      val delta = c.filter(col("doc_id") % 10 === 0)
      graft.operators.IncrementalAgg.estimateDistinct(
        graft.operators.IncrementalAgg.mergeDistinct(
          graft.operators.IncrementalAgg.summarizeDistinct(
            base.withColumn("k", pmod(col("doc_id"), lit(7L))), Seq("k"), col("text")),
          graft.operators.IncrementalAgg.summarizeDistinct(
            delta.withColumn("k", pmod(col("doc_id"), lit(7L))), Seq("k"), col("text")),
          Seq("k"))).agg(sum("distinct_estimate")).head().getLong(0)
    })
    // Heavy hitters: the candidate set is bounded by the sketch size
    // whatever the corpus — cost must track corpus ~linearly (two
    // scans), NEVER the vocabulary (which also grows with replicas'
    // shifted ids mixed in, keeping distinct-key count growing).
    docRun("heavyht")(c => graft.operators.HeavyHitters.exactHeavyHitters(
      c.select(explode(split(col("text"), " ")).as("token")),
      col("token"), t = 50, sketchK = Some(128)).count())
    // Weighted mixing: pure map-side replicate/filter — must be ~flat
    // per input row (no shuffle at all).
    docRun("mix")(c => graft.operators.Sampling.weightedMix(
      c.select("doc_id"), "doc_id",
      weightPermille = when(col("doc_id") % 3 === 0, 2500L).otherwise(400L)).count())
    // Z-order clustering: one range exchange on the interleaved key —
    // wall must track corpus ~linearly like any single-shuffle sort.
    docRun("zorder")(c => graft.operators.Maintenance.zOrdered(
      c.select(pmod(col("doc_id"), lit(1024L)).as("x"),
        pmod(col("doc_id") * 37L, lit(1024L)).as("y")),
      Seq("x", "y"), nOut = 32, bits = 10).count())
    // Token-budget cap: 5 synthetic strata, fixed per-stratum budget.
    // The two-phase running sum keeps parallelism at strata x buckets
    // — wall must track corpus ~linearly, NEVER the stratum count
    // (the naive per-domain window caps at 5 tasks regardless of m).
    docRun("budget")(c => graft.operators.Sampling.tokenBudgetCap(
      c.select(col("doc_id"), pmod(col("doc_id"), lit(5L)).as("s"),
        length(col("text")).cast("long").as("toks")),
      "doc_id", "s", "toks", budgetPerStratum = 100000L, buckets = 256).count())
    // PQ serving: codebooks train ONCE on a fixed-size sample
    // (constant cost); encode + ADC shortlist + re-rank must track the
    // corpus ~linearly with the scan being 8-byte codes.
    if (wanted("pq")) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      val cb = graft.operators.Similarity.trainPqCodebooks(emb0, "vec_id", "e", dim = 64)
      val probe = emb0.orderBy("vec_id").limit(1).collect()(0).getSeq[Double](1).toArray
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => emb0.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val out = graft.operators.Similarity.pqTopK(
          graft.operators.Similarity.pqEncode(corpus, "e", cb),
          probe, cb, k = 10, rerankVecCol = Some("e")).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE pq      m=$m%2d vecs=$n%7d out=$out%9d time=$dt%7.1fs")
      }
    }
    // Incremental IVF append: the corpus (and its build-time
    // assignment) grows m-fold while the arriving batch stays FIXED —
    // tbuild must track the corpus; tappend (one map-side argmin
    // projection of the batch against the collected centroids) must
    // stay FLAT: append cost tracks the batch, never the corpus.
    if (wanted("ivfapp")) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      isolatedEach(multiples) { m =>
        val batch = emb0.filter(col("vec_id") % 7 === 0)
          .withColumn("vec_id", col("vec_id") + lit(900000000L)).checkpointed()
        val nb = batch.count()
        val corpus = (0 until m).map(i => emb0.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val (assigned, cents) = Similarity.ivfIndex(corpus, "vec_id", "e", nLists = 16)
        val nAssigned = assigned.count()
        val t1 = System.nanoTime()
        val appended = Similarity.assignToCentroids(batch, cents, "e").count()
        val t2 = System.nanoTime()
        println(f"SCALE ivfapp  m=$m%2d vecs=$n%7d batch=$nb%6d built=$nAssigned%7d " +
          f"appended=$appended%6d tbuild=${(t1 - t0) / 1e9}%6.1fs tappend=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // Incremental near-dup probe FROM THE PERSISTED SKETCH
    // (Dedup.incrementalNearDupsFromSketch — the nearDupStream
    // per-batch kernel): the corpus and its one-time sketch grow
    // m-fold while the arriving batch stays FIXED. tsketch (the
    // corpus banding pass) may track the corpus; tprobe — batch
    // banding + ONE (band, key) equi-join + candidate-pruned verify —
    // must track the BATCH and its candidate fan-out (replicas are
    // exact dups of the batch's sources, so true pairs grow ~m and
    // the probe is output-bound, never corpus-bound).
    if (wanted("ndprobe")) {
      val batch = base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(900000000L))
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          base.withColumn("doc_id", col("doc_id") + lit(i * 10000000L))).reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val sketch = Dedup.signatureBandRows(corpus, "doc_id", "text").checkpointed()
        val ns = sketch.count()
        val t1 = System.nanoTime()
        val out = Dedup.incrementalNearDupsFromSketch(
          sketch, corpus, batch, "doc_id", "text").count()
        val t2 = System.nanoTime()
        println(f"SCALE ndprobe m=$m%2d docs=$n%7d sketch=$ns%9d pairs=$out%8d " +
          f"tsketch=${(t1 - t0) / 1e9}%6.1fs tprobe=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // IVF recall@10 at PRODUCTION nProbe=4 under replication (the
    // sim_ivf_recall gate's statistic, measured as the corpus grows):
    // exact duplicates land in the same cell (identical argmin
    // tie-break), so the probed-cell slice keeps covering the true
    // neighborhood and recall_pm must stay STABLE — a falling curve
    // here is the drift signal that says rebuild/raise nProbe before
    // serving quality erodes at 100 TB.
    if (wanted("recall")) {
      val w = org.apache.spark.sql.expressions.Window
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      isolatedEach(multiples) { m =>
        val probes = emb0.filter(col("vec_id") < 20)
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        val corpus = (0 until m).map(i => emb0.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val (assigned, cents) = Similarity.ivfIndex(corpus, "vec_id", "e", nLists = 16)
        val pc = cents.crossJoin(broadcast(probes))
          .withColumn("sim", Similarity.cosine(col("centroid"), col("probe_e")))
          .withColumn("crk", row_number().over(
            w.partitionBy("probe_id").orderBy(desc("sim"), asc("cell"))))
          .filter(col("crk") <= 4).select("probe_id", "probe_e", "cell")
        val rw = w.partitionBy("probe_id").orderBy(desc("cos_sim"), asc("vec_id"))
        val approx = assigned.join(broadcast(pc), "cell")
          .filter(col("vec_id") =!= col("probe_id"))
          .withColumn("cos_sim", Similarity.cosine(col("e"), col("probe_e")))
          .withColumn("rk", row_number().over(rw)).filter(col("rk") <= 10)
          .select("probe_id", "vec_id")
        val truth = Similarity.batchTopK(corpus, probes, "e", 10)
          .select("probe_id", "vec_id")
        val hits = truth.join(approx, Seq("probe_id", "vec_id"), "left_semi").count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE recall  m=$m%2d vecs=$n%7d recall_pm=${hits * 1000 / 200}%4d time=$dt%7.1fs")
      }
    }
    // IVF-PQ serving: the index MATERIALIZES once (assignment +
    // residual encode written as codes — the build wall, amortized
    // over every query) and the query serves from the materialized
    // codes: probe-cell selection is metadata, the scan is an isin
    // cell filter over 8-byte codes in ONE pass (the union-per-cell
    // form measured nProbe x this). Query wall must track the probed
    // fraction of the corpus, not the corpus.
    if (wanted("ivfpq")) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => emb0.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_ivfpq_")
        val t0 = System.nanoTime()
        val (enc, cents, cb) = graft.operators.Similarity.ivfPqIndex(
          corpus, "vec_id", "e", dim = 64, nLists = 16)
        enc.write.parquet(s"$work/idx")
        val tb = (System.nanoTime() - t0) / 1e9
        val served = spark.read.parquet(s"$work/idx")
        val probe = emb0.orderBy("vec_id").limit(1).collect()(0).getSeq[Double](1).toArray
        val t1 = System.nanoTime()
        val out = graft.operators.Similarity.ivfPqTopK(served, cents, cb, probe,
          k = 10, nProbe = 4, rerankVecCol = Some("e")).count()
        val tq = (System.nanoTime() - t1) / 1e9
        println(f"SCALE ivfpq   m=$m%2d vecs=$n%7d out=$out%9d build=$tb%7.1fs query=$tq%7.1fs")
      }
    }
    // BATCH IVF / IVF-PQ serving (ivfBatchTopK / ivfPqBatchTopK): the
    // index builds ONCE at fixed corpus; the probe BATCH grows
    // 20 -> 20m. The claim the batch operators make: wall tracks the
    // probe-batch size (each probe scores the probed nProbe/nLists
    // slice of the corpus — the per-probe work is fixed, the batch
    // multiplies it), with no per-probe driver subplans — one plan
    // whatever the batch size. Superlinear growth here would mean the
    // probed-cell join degenerated (e.g. the broadcast side stopped
    // broadcasting).
    if (wanted("ivfbatch")) graft.Bench.isolated(spark) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      val n = emb0.count()
      val (enc, cents, cb) = graft.operators.Similarity.ivfPqIndex(
        emb0, "vec_id", "e", dim = 64, nLists = 16)
      val encCp = enc.checkpointed()
      val (assigned, _) = Similarity.ivfIndex(emb0, "vec_id", "e", nLists = 16)
      val asgCp = assigned.checkpointed()
      isolatedEach(multiples) { m =>
        val nb = 20 * m
        val probes = emb0.filter(col("vec_id") < nb)
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        val t0 = System.nanoTime()
        val outIvf = Similarity.ivfBatchTopK(asgCp, cents, probes, "e",
          k = 10, nProbe = 4).count()
        val t1 = System.nanoTime()
        val outPq = Similarity.ivfPqBatchTopK(encCp, cents, cb, probes,
          k = 10, nProbe = 4, rerankVecCol = Some("e")).count()
        val t2 = System.nanoTime()
        println(f"SCALE ivfbatch m=$m%2d vecs=$n%7d probes=$nb%5d ivf_rows=$outIvf%6d " +
          f"pq_rows=$outPq%6d tivf=${(t1 - t0) / 1e9}%6.1fs tpq=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // BUCKETED multi-probe LSH vs the bit_count scan
    // (annBucketedBatchTopK vs annBatchTopK at equal radius r=2): the
    // corpus grows m-fold, 20 probes fixed. cand — the equi-join's
    // candidate fan-out — must stay a TINY fraction of the corpus
    // (~137/65536 of rows per probe on uniform signatures) while the
    // scan form touches every row per batch; results are equal by the
    // Hamming-ball enumeration (sim_ann_bucketed_agree REQUIREs it).
    // On a sig-partitioned 100 TB corpus the equi-join is a partition
    // read; here both run as joins/scans over memory-resident data,
    // so the measured claim is the FAN-OUT, with wall as corroboration.
    if (wanted("annbucket")) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      val probes = emb0.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => emb0.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val scanRows = Similarity.annBatchTopK(corpus, probes, "e",
          dim = 64, k = 10, nBits = 16, probeHamming = 2).count()
        val t1 = System.nanoTime()
        val bRows = Similarity.annBucketedBatchTopK(corpus, probes, "e",
          dim = 64, k = 10, nBits = 16, probeHamming = 2).count()
        val t2 = System.nanoTime()
        println(f"SCALE annbucket m=$m%2d vecs=$n%7d scan_rows=$scanRows%5d bkt_rows=$bRows%5d " +
          f"tscan=${(t1 - t0) / 1e9}%6.1fs tbkt=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // Matryoshka staged retrieval (r18): stage 1 reads the persisted
    // HALF-WIDTH prefix projection, stage 2 exact-reranks an 80-row
    // shortlist — tmrl should undercut the full-width brute scan
    // (tbrute) as m grows, since the corpus-sized term halves its
    // bytes and the full vectors ride only the shortlist join.
    if (wanted("mrl")) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      val probes = emb0.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => emb0.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_mrl_").toString
        Similarity.prefixTable(corpus, "vec_id", "e", 32)
          .write.parquet(s"$work/pfx")
        val pfx = spark.read.parquet(s"$work/pfx")
        val t0 = System.nanoTime()
        val nb = Similarity.batchTopK(corpus, probes, "e", 10).count()
        val t1 = System.nanoTime()
        val nm = Similarity.mrlBatchTopK(corpus, probes, "e", dPrefix = 32,
          k = 10, shortlistFactor = 8, prefixes = Some(pfx)).count()
        val t2 = System.nanoTime()
        println(f"SCALE mrl     m=$m%2d vecs=$n%7d brute_rows=$nb%4d mrl_rows=$nm%4d " +
          f"tbrute=${(t1 - t0) / 1e9}%6.1fs tmrl=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // INT8 staged retrieval (r18): stage 1 reads the persisted
    // 1-B/dim quantized table (1/8 the float bytes), stage 2
    // exact-reranks a 20-row shortlist; results must agree with the
    // brute scan at near-lossless int8 recall (REQUIREd in the gate;
    // here we record the wall split).
    if (wanted("sq8")) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      val probes = emb0.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => emb0.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_sq8_").toString
        Similarity.sq8Table(corpus, "vec_id", "e").write.parquet(s"$work/q")
        val qt = spark.read.parquet(s"$work/q")
        val t0 = System.nanoTime()
        val nb = Similarity.batchTopK(corpus, probes, "e", 10).count()
        val t1 = System.nanoTime()
        val nq = Similarity.sq8BatchTopK(corpus, probes, "e", k = 10,
          shortlistFactor = 2, quantized = Some(qt)).count()
        val t2 = System.nanoTime()
        println(f"SCALE sq8     m=$m%2d vecs=$n%7d brute_rows=$nb%4d sq8_rows=$nq%4d " +
          f"tbrute=${(t1 - t0) / 1e9}%6.1fs tsq8=${(t2 - t1) / 1e9}%6.1fs")
      }
    }
    // ANN ingest-state maintenance (r19: annIngestCompact — the one
    // ingest destination that had no compact path). A 24/7 maintained
    // index accrues one postings+vectors partition per batch; the
    // era-aware compact (retired-era vacuum + the vectors union fold,
    // postings NEVER folded — relabeling sub-era rows would resurrect
    // them into the era-pruned read) plus the next rebuild must bound
    // the listing at a CONSTANT dir count however many batches
    // accumulated, with serving identical (REQUIREd row-for-row).
    if (wanted("anncomp")) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      val slice = emb0.filter(col("vec_id") < 200)
      isolatedEach(multiples) { m =>
        val dest = s"${graft.CacheDirs.tempWorkDir("graft_stress_anncomp_")}/index"
        val fsP = new org.apache.hadoop.fs.Path(dest)
        val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def nDirs: Long = Seq("vectors", "postings", "centroids").map { d =>
          val p = new org.apache.hadoop.fs.Path(s"$dest/$d")
          if (fs.exists(p)) fs.listStatus(p).count(_.getPath.getName.startsWith("batch=")).toLong
          else 0L
        }.sum
        val nb = 4 * m
        val t0 = System.nanoTime()
        graft.streaming.EventStreams.ingestAnnBatch(spark, emb0, dest, 0L,
          vecCol = "e", nLists = 16, mode = "rebuild")
        (1 to nb).foreach { i =>
          graft.streaming.EventStreams.ingestAnnBatch(spark,
            slice.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")),
            dest, i.toLong, vecCol = "e", nLists = 16, mode = "append")
        }
        val tIngest = (System.nanoTime() - t0) / 1e9
        val probes = emb0.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        def serve() = graft.streaming.EventStreams
          .annIngestTopK(spark, dest, probes, k = 10, nProbe = 4)
          .select("probe_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val dirsGrown = nDirs
        val before = serve()
        val t1 = System.nanoTime()
        graft.streaming.EventStreams.annIngestCompact(spark, dest, minParts = 2)
        val tComp = (System.nanoTime() - t1) / 1e9
        require(serve() == before, "anncomp: compaction changed serving")
        // the era roll: one rebuild retires every append partition,
        // the next compact vacuums them — dir count back to constant
        graft.streaming.EventStreams.ingestAnnBatch(spark,
          slice.select((col("vec_id") + lit((nb + 1) * 10000000L)).as("vec_id"), col("e")),
          dest, nb + 1L, vecCol = "e", nLists = 16, mode = "rebuild")
        graft.streaming.EventStreams.annIngestCompact(spark, dest, minParts = 2)
        val dirsBounded = nDirs
        require(dirsBounded <= 4,
          s"anncomp: $dirsBounded dirs after compact+rebuild+compact — listing not bounded")
        println(f"SCALE anncomp m=$m%2d batches=${nb + 2}%3d dirs_grown=$dirsGrown%3d " +
          f"dirs_bounded=$dirsBounded%2d tingest=$tIngest%6.1fs tcompact=$tComp%6.1fs")
      }
    }
    // Stage-1 bounded-heap shortlist (r19: the row_number-over-
    // partitionBy(probe_id) windows in batchTopK/hardNegatives/
    // pqBatchTopK/mrlBatchTopK/sq8BatchTopK shuffled every probe's
    // ENTIRE candidate set into one task — probes×corpus rows; the
    // TopKPairs heap's map side emits ONE array row per probe per
    // input partition). Two sweeps over batchTopK (all five forms
    // share the helper): probe count grows at fixed corpus — shuffle
    // rows must track probes (×input partitions), and corpus grows
    // at fixed probes — shuffle rows must track only the PARTITION
    // count (measured: 21→42→105 at 500→2500 rows, i.e. probes×parts
    // — at 100 TB that is corpus_bytes/128 MB heap rows, ~10^6×
    // under the window form's probes×corpus_rows). REQUIREd an order
    // of magnitude under that probes×corpus floor per run.
    if (wanted("staged1")) {
      val shufRows = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          shufRows.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
      }
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      spark.sparkContext.addSparkListener(listener)
      def measured(corpus: org.apache.spark.sql.DataFrame, nb: Int): (Long, Long, Double) = {
        val probes = emb0.filter(col("vec_id") < nb)
          .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
        shufRows.set(0L)
        val t0 = System.nanoTime()
        val out = Similarity.batchTopK(corpus, probes, "e", 10).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // listener bus drains asynchronously
        (out, shufRows.get(), dt)
      }
      def rep(m: Int) = (0 until m).map(i => emb0.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")))
        .reduce(_ unionByName _)
      // sweep 1: probes grow, corpus fixed
      isolatedEach(Seq(20, 40, 80, 160)) { nb =>
        val corpus = rep(2); val n = corpus.count()
        val (out, shuf, dt) = measured(corpus, nb)
        require(shuf * 10 < nb.toLong * n,
          s"staged1: $shuf shuffle rows at $nb probes x $n vecs — the corpus is " +
            "riding the rank shuffle again (window-form regression)")
        println(f"SCALE staged1 probes=$nb%4d vecs=$n%7d out=$out%6d shuf_rows=$shuf%7d time=$dt%6.1fs")
      }
      // sweep 2: corpus grows, probes fixed — shuffle rows FLAT
      isolatedEach(multiples) { m =>
        val corpus = rep(m); val n = corpus.count()
        val (out, shuf, dt) = measured(corpus, 20)
        require(shuf * 10 < 20L * n,
          s"staged1: $shuf shuffle rows at 20 probes x $n vecs — corpus-sized rank shuffle")
        println(f"SCALE staged1 m=$m%2d vecs=$n%7d out=$out%6d shuf_rows=$shuf%7d time=$dt%6.1fs")
      }
      spark.sparkContext.removeSparkListener(listener)
    }
    // Persisted signature table (r18: the LSH families' serving
    // index): tbuild — the one-time (vec_id, sig) projection to
    // parquet, paid once per corpus — grows with m; tfed — bucketed
    // serving whose CANDIDATES come off the 16-B/row table, floats
    // joining in candidate-sized — must beat tinline (which re-packs
    // every float row per query batch) and the two must agree row-
    // for-row (REQUIREd here like the gate).
    if (wanted("sigtab")) {
      val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb0.count() // warm
      val probes = emb0.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("e").as("probe_e"))
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => emb0.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_sigtab_").toString
        val t0 = System.nanoTime()
        Similarity.signatureTable(corpus, "vec_id", "e", dim = 64, nBits = 16)
          .write.parquet(s"$work/sigs")
        val sigs = spark.read.parquet(s"$work/sigs")
        val t1 = System.nanoTime()
        val inlineRows = Similarity.annBucketedBatchTopK(corpus, probes, "e",
          dim = 64, k = 10, nBits = 16, probeHamming = 2).count()
        val t2 = System.nanoTime()
        val fedRows = Similarity.annBucketedBatchTopK(corpus, probes, "e",
          dim = 64, k = 10, nBits = 16, probeHamming = 2,
          sigs = Some(sigs)).count()
        val t3 = System.nanoTime()
        require(fedRows == inlineRows,
          s"table-fed LSH diverges from inline: $fedRows vs $inlineRows")
        println(f"SCALE sigtab  m=$m%2d vecs=$n%7d rows=$fedRows%5d " +
          f"tbuild=${(t1 - t0) / 1e9}%6.1fs tinline=${(t2 - t1) / 1e9}%6.1fs " +
          f"tfed=${(t3 - t2) / 1e9}%6.1fs")
      }
    }
    // JDBC round-trip (S1/S3/W1): W1 batch insert OUT, 4-stride
    // partitioned read BACK (data-derived bounds). The write wall is
    // the destination's price — embedded Derby is one process doing
    // b-tree inserts, and at 100 TB you'd size the DB, not Spark. The
    // read wall is the claim under test: 4 concurrent stride cursors
    // must keep read time growing ~linearly in rows (a single cursor
    // would too — the stride win shows in read ≪ write and in the
    // per-row rate holding flat as m grows).
    if (wanted("jdbc")) {
      graft.sources.Readers.ensureDerbyHome()
      val orders0 = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      orders0.count() // warm
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => orders0.select(
          (col("o_orderkey") + lit(i * 100000000L)).as("k"),
          col("o_custkey").as("c"), col("o_totalprice").as("t")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val dbDir = java.nio.file.Files.createTempDirectory("graft_stress_derby_").toString
        val url = s"jdbc:derby:$dbDir/db;create=true"
        val t0 = System.nanoTime()
        graft.sinks.Writers.write(corpus, graft.model.DestinationConfig("JDBC",
          graft.model.ConnectionDetails(jdbcUrl = Some(url), tableName = Some("ORDERS_ST")),
          batchSize = 1000))
        val tw = (System.nanoTime() - t0) / 1e9
        val bounds = corpus.agg(min("k"), max("k")).head()
        val t1 = System.nanoTime()
        val out = graft.sources.Readers.jdbc(spark, graft.model.SourceConfig("JDBC",
          graft.model.ConnectionDetails(jdbcUrl = Some(url), tableName = Some("ORDERS_ST"),
            fetchSize = Some(1000), partitionColumn = Some("k"),
            numPartitions = Some(4), lowerBound = Some(bounds.getLong(0)),
            upperBound = Some(bounds.getLong(1)))))
          .filter(col("t") > 1000.0).count()
        val tr = (System.nanoTime() - t1) / 1e9
        println(f"SCALE jdbc    m=$m%2d rows=$n%7d out=$out%9d write=$tw%7.1fs read=$tr%7.1fs")
        // shut the db down (expected SQLException on success) and
        // delete its dir — 10 stress DBs would otherwise pile up
        try java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir/db;shutdown=true")
        catch { case _: java.sql.SQLException => }
        graft.CacheDirs.deleteRecursively(new java.io.File(dbDir))
      }
    }
    // Compaction: fragment the documents corpus into 64*m small
    // files and rewrite with the shuffle-free coalesce path — the
    // wall must track bytes ~linearly (a read + a write, nothing
    // else), while the file count collapses to ceil(bytes/target)
    // independent of how fragmented the input was.
    if (wanted("compact")) {
      val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i =>
          docs0.withColumn("doc_id", col("doc_id") + lit(i * 10000000L)))
          .reduce(_ unionByName _)
        val work = graft.CacheDirs.tempWorkDir("graft_stress_compact_")
        corpus.repartition(64 * m).write.parquet(s"$work/t")
        val t0 = System.nanoTime()
        val stats = graft.operators.Maintenance.compact(spark, s"$work/t",
          targetFileBytes = 8L << 20)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE compact m=$m%2d files=${stats.filesBefore}%5d->${stats.filesAfter}%3d " +
          f"rows=${stats.rows}%8d time=$dt%7.1fs")
      }
    }
    // Streaming execution: replicate the events feed mx into a
    // staging dir and run the tumbling-window aggregate through the
    // REAL streaming engine (readStream -> watermark ->
    // Trigger.AvailableNow -> parquet sink), state partitions sized
    // for the state volume (8) not the batch shuffle default.
    // Replicas shift event_id only, NOT ts, so the window population
    // is FIXED while input rows grow mx: the emitted result (out)
    // must stay constant — the bounded-state claim that makes the
    // micro-batch path viable at 100 TB — while wall tracks input
    // ~linearly (the scan+partial-agg cost that has to be paid).
    // Stateful debounce under GROWING KEY CARDINALITY: replicas shift
    // user_id, so live state (one long per (user, type)) grows m-fold
    // with the input. Wall should track input ~linearly and the
    // output replicate exactly m-fold (replica feeds are disjoint in
    // key space, so each replica debounces independently).
    if (wanted("debounce")) {
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      ev0.count() // warm
      isolatedEach(multiples) { m =>
        val feed = (0 until m).map(i =>
          ev0.withColumn("event_id", col("event_id") + lit(i * 100000000L))
            .withColumn("user_id", col("user_id") + lit(i * 10000000L)))
          .reduce(_ unionByName _)
        val n = feed.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_debounce_")
        feed.write.parquet(s"$work/feed")
        // live state rows = one long per (user, type) key — report the
        // bound so the table shows state growing with KEYS, not rows
        val stateKeys = feed.select("user_id", "event_type").distinct().count()
        val t0 = System.nanoTime()
        val out = graft.streaming.EventStreams.runToParquet(spark,
          graft.streaming.EventStreams.debounceStream(
            graft.streaming.EventStreams.readEvents(spark, s"$work/feed"),
            quietUs = 600L * 1000000L)(spark).toDF(),
          s"$work/run", statePartitions = Some(8)).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE debounce m=$m%2d rows=$n%7d out=$out%9d state=$stateKeys%7d time=$dt%7.1fs")
      }
    }
    // Streaming keyed UPSERT under a GROWING DESTINATION and a FIXED
    // batch: the destination is seeded at m× the events table
    // (disjoint user_id replicas spread over all buckets), then ONE
    // fixed micro-batch (users 0..7) streams in. With nBuckets=64
    // the batch touches only its keys' buckets (≤8 of 64), so
    // per-batch wall must stay ~flat as the destination grows;
    // nBuckets=1 IS the old full-destination rewrite (every batch
    // touches the single bucket = everything) and its wall must
    // track destination size.
    // The bucketed-vs-flat slope ratio is the scale evidence. Both
    // pass a 1 TB targetBucketBytes: the default target (the 128 MB
    // split size) would double the flat layout past 256 MB and stop
    // it being the fixed-N baseline.
    if (wanted("upsert")) {
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
        .select("user_id", "event_id", "event_type", "value")
      ev0.count() // warm
      val batchFeed = ev0.filter(col("user_id") < 8)
      isolatedEach(multiples) { m =>
        // destination seeded in keep-latest form (one row per key —
        // m×1M DISTINCT users): a non-deduped seed would collapse on
        // first merge and fake a small rewrite for the flat variant
        val destN = m * 1000000L
        val destRows = spark.range(destN).select(ev0.schema.fields.map { f =>
          (f.name match {
            case "user_id" | "event_id" => col("id")
            case "event_type" => lit("seed")
            case _ => col("id") % 100
          }).cast(f.dataType).as(f.name)
        }: _*)
        Seq(64 -> "bkt64", 1 -> "flat ").foreach { case (nb, label) =>
          val work = graft.CacheDirs.tempWorkDir("graft_stress_upsert_")
          destRows
            .withColumn("_bucket",
              graft.streaming.EventStreams.upsertBucket(Seq("user_id"), nb))
            .write.partitionBy("_bucket").parquet(s"$work/dest")
          batchFeed.coalesce(1).write.parquet(s"$work/feed")
          val batchN = batchFeed.count()
          // wall at this corpus size is stream-startup-dominated for
          // BOTH variants; the structural evidence is bytes REWRITTEN
          // per batch (files newer than stream start) vs total bytes
          def destFiles(): Seq[java.io.File] = {
            def walk(f: java.io.File): Seq[java.io.File] =
              if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
              else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
            walk(new java.io.File(s"$work/dest"))
          }
          val totalBytes = destFiles().map(_.length).sum
          val wallClock0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          graft.streaming.EventStreams.upsertStream(spark,
            spark.readStream.schema(batchFeed.schema).parquet(s"$work/feed"),
            s"$work/dest", keys = Seq("user_id"), versionCol = "event_id",
            checkpoint = s"$work/ckpt", nBuckets = nb, targetBucketBytes = 1L << 40)
          val dt = (System.nanoTime() - t0) / 1e9
          val rewritten = destFiles().filter(_.lastModified >= wallClock0).map(_.length).sum
          println(f"SCALE upsert  m=$m%2d dest=$destN%8d batch=$batchN%6d $label " +
            f"rewrote=${rewritten / 1024}%7dKB of=${totalBytes / 1024}%7dKB time=$dt%7.1fs")
          graft.CacheDirs.deleteRecursively(work.toFile)
        }
        // ADAPTIVE layout: the destination carries the bucket count
        // the targetBucketBytes doubling policy (on by default, at
        // the split size; 256 KB here so the fixture-sized
        // destination doubles at all) converges to for its
        // size (seeded via the _graft_nbuckets marker — the steady
        // state the mechanism maintains; the doubling transition
        // itself is pinned in StreamingSpec). With N tracking
        // destination/target, per-batch rewritten bytes must stay
        // ~FLAT as the destination grows 10x — the fixed-N residue
        // (rewritten ~ touched x destination/N) eliminated.
        locally {
          val target = 256L * 1024
          val work = graft.CacheDirs.tempWorkDir("graft_stress_upsertad_")
          def destFiles(): Seq[java.io.File] = {
            def walk(f: java.io.File): Seq[java.io.File] =
              if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
              else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
            walk(new java.io.File(s"$work/dest"))
          }
          destRows
            .withColumn("_bucket",
              graft.streaming.EventStreams.upsertBucket(Seq("user_id"), 64))
            .write.partitionBy("_bucket").parquet(s"$work/dest")
          val probeBytes = destFiles().map(_.length).sum
          var nAdapt = 64
          while (probeBytes > 2L * target * nAdapt && nAdapt < 65536) nAdapt *= 2
          if (nAdapt != 64) {
            graft.CacheDirs.deleteRecursively(new java.io.File(s"$work/dest"))
            destRows
              .withColumn("_bucket",
                graft.streaming.EventStreams.upsertBucket(Seq("user_id"), nAdapt))
              .write.partitionBy("_bucket").parquet(s"$work/dest")
          }
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$work/dest/_graft_nbuckets"), nAdapt.toString)
          batchFeed.coalesce(1).write.parquet(s"$work/feed")
          val batchN = batchFeed.count()
          val totalBytes = destFiles().map(_.length).sum
          val wallClock0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          graft.streaming.EventStreams.upsertStream(spark,
            spark.readStream.schema(batchFeed.schema).parquet(s"$work/feed"),
            s"$work/dest", keys = Seq("user_id"), versionCol = "event_id",
            checkpoint = s"$work/ckpt", nBuckets = 64, targetBucketBytes = target)
          val dt = (System.nanoTime() - t0) / 1e9
          val rewritten = destFiles().filter(_.lastModified >= wallClock0).map(_.length).sum
          println(f"SCALE upsert  m=$m%2d dest=$destN%8d batch=$batchN%6d adapt " +
            f"n=$nAdapt%5d rewrote=${rewritten / 1024}%7dKB of=${totalBytes / 1024}%7dKB time=$dt%7.1fs")
          graft.CacheDirs.deleteRecursively(work.toFile)
        }
        // DEFAULT layout (no nBuckets, no targetBucketBytes) against
        // one bucket per core, on this SPARSE batch: the default is 32
        // buckets doubled while mean bucket size passes 2x the split
        // size, and the destination is seeded at the count it holds
        // for its size. With one bucket per core the batch's 8 keys
        // touch every bucket, so the tick rewrites the whole state.
        Seq("dflt ", "cores").foreach { label =>
          val work = graft.CacheDirs.tempWorkDir("graft_stress_upsertdf_")
          def destFiles(): Seq[java.io.File] = {
            def walk(f: java.io.File): Seq[java.io.File] =
              if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
              else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
            walk(new java.io.File(s"$work/dest"))
          }
          def seed(n: Int): Unit = {
            graft.CacheDirs.deleteRecursively(new java.io.File(s"$work/dest"))
            destRows
              .withColumn("_bucket", graft.streaming.EventStreams.upsertBucket(Seq("user_id"), n))
              .write.partitionBy("_bucket").parquet(s"$work/dest")
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$work/dest/_graft_nbuckets"), n.toString)
          }
          var n = spark.sparkContext.defaultParallelism
          if (label == "dflt ") {
            n = 32
            seed(n)
            val size = destFiles().map(_.length).sum
            while (size > 2L * spark.sessionState.conf.filesMaxPartitionBytes * n) n *= 2
          }
          if (label == "cores" || n != 32) seed(n)
          batchFeed.coalesce(1).write.parquet(s"$work/feed")
          val batchN = batchFeed.count()
          val totalBytes = destFiles().map(_.length).sum
          val wallClock0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          graft.streaming.EventStreams.upsertStream(spark,
            spark.readStream.schema(batchFeed.schema).parquet(s"$work/feed"),
            s"$work/dest", keys = Seq("user_id"), versionCol = "event_id",
            checkpoint = s"$work/ckpt")
          val dt = (System.nanoTime() - t0) / 1e9
          val rewritten = destFiles().filter(_.lastModified >= wallClock0).map(_.length).sum
          println(f"SCALE upsert  m=$m%2d dest=$destN%8d batch=$batchN%6d $label " +
            f"n=$n%5d rewrote=${rewritten / 1024}%7dKB of=${totalBytes / 1024}%7dKB time=$dt%7.1fs")
          graft.CacheDirs.deleteRecursively(work.toFile)
        }
      }
    }
    // Streaming bounded per-key TOP-K under GROWING KEY CARDINALITY:
    // replicas shift user_id, so the state table's bound (keys x k)
    // grows m-fold while per-key state stays <= k rows FOREVER —
    // reported as state= (final destination row count). Wall should
    // track input ~linearly (each batch pays one keyed shuffle over
    // state ∪ batch).
    if (wanted("topk")) {
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      ev0.count() // warm
      isolatedEach(multiples) { m =>
        val feed = (0 until m).map(i =>
          ev0.withColumn("event_id", col("event_id") + lit(i * 100000000L))
            .withColumn("user_id", col("user_id") + lit(i * 10000000L)))
          .reduce(_ unionByName _)
        val n = feed.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_topk_")
        feed.write.parquet(s"$work/feed")
        val t0 = System.nanoTime()
        val state = graft.streaming.EventStreams.topKStream(spark,
          graft.streaming.EventStreams.readEvents(spark, s"$work/feed")
            .filter(col("event_type") === "purchase")
            .select("user_id", "event_id", "value"),
          s"$work/dest", keys = Seq("user_id"), orderCol = "value",
          tieCol = "event_id", k = 3, checkpoint = s"$work/ckpt").count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE topk    m=$m%2d rows=$n%7d state=$state%7d time=$dt%7.1fs")
      }
    }
    if (wanted("stream")) {
      val ev0 = spark.read.parquet(s"$sfDir/events.parquet")
      ev0.count() // warm
      isolatedEach(multiples) { m =>
        val feed = (0 until m).map(i =>
          ev0.withColumn("event_id", col("event_id") + lit(i * 100000000L)))
          .reduce(_ unionByName _)
        val n = feed.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_stream_")
        feed.write.parquet(s"$work/feed")
        val t0 = System.nanoTime()
        val out = graft.streaming.EventStreams.runToParquet(spark,
          graft.streaming.EventStreams.tumblingCounts(
            graft.streaming.EventStreams.readEvents(spark, s"$work/feed")),
          s"$work/run", statePartitions = Some(8)).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE stream  m=$m%2d rows=$n%7d out=$out%9d time=$dt%7.1fs")
      }
    }
    // Bucketed co-located join: the bucketed WRITE pays the one-time
    // keyed shuffle (reported separately — it amortizes over every
    // later join); the JOIN, with broadcast disabled so the bucket
    // layout itself must carry it, runs exchange-free and its wall
    // must track rows ~linearly (a zipped scan + merge, no shuffle).
    if (wanted("bucket")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
      val or0 = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_orderstatus")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val li = (0 until m).map(i => li0.select(
          (col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          col("l_extendedprice"))).reduce(_ unionByName _)
        val or = (0 until m).map(i => or0.select(
          (col("o_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          col("o_orderstatus"))).reduce(_ unionByName _)
        val n = li.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_buck_")
        val db = s"stress_buck_$m"
        spark.sql(s"CREATE DATABASE $db LOCATION '$work/wh'")
        val t0 = System.nanoTime()
        li.write.bucketBy(32, "l_orderkey").sortBy("l_orderkey").saveAsTable(s"$db.li_b")
        or.write.bucketBy(32, "l_orderkey").sortBy("l_orderkey").saveAsTable(s"$db.or_b")
        val tw = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val out = graft.GraftSession.withConf(spark,
            Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")) { s =>
          s.table(s"$db.li_b").join(s.table(s"$db.or_b"), "l_orderkey")
            .groupBy("o_orderstatus").count().count()
        }
        val tj = (System.nanoTime() - t1) / 1e9
        println(f"SCALE bucket  m=$m%2d rows=$n%8d out=$out%9d write=$tw%7.1fs join=$tj%7.1fs")
        spark.sql(s"DROP DATABASE $db CASCADE")
      }
    }
    // Manifest data skipping: corpus Z-ordered into 16*m files (file
    // size held ~constant), FIXED l_partkey range. The pruned read's
    // file count must stay ~flat as m grows (the range lives in the
    // same few files whatever the corpus size) and its wall must stay
    // ~flat while the full filter scan tracks the corpus — that gap
    // IS the zone-map payoff. Manifest build (one scan) reported
    // separately: a table format maintains it incrementally.
    if (wanted("skip")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => li0.select(
          (col("l_orderkey") + lit(i * 10000000L)).as("l_orderkey"),
          col("l_partkey"), col("l_quantity"))).reduce(_ unionByName _)
        val n = corpus.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_skip_")
        graft.operators.Maintenance.zOrderedAuto(corpus,
          Seq("l_partkey", "l_orderkey"), nOut = 16 * m, bits = 12)
          .write.parquet(s"$work/t")
        val tm0 = System.nanoTime()
        val manifest = graft.operators.Maintenance.statsManifest(
          spark.read.parquet(s"$work/t"), Seq("l_partkey"))
        val paths = graft.operators.Maintenance.prunedPaths(
          manifest, "l_partkey", lit(1), lit(50))
        val tm = (System.nanoTime() - tm0) / 1e9
        val t0 = System.nanoTime()
        val out = spark.read.parquet(paths: _*)
          .filter(col("l_partkey").between(1, 50)).count()
        val tr = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        spark.read.parquet(s"$work/t")
          .filter(col("l_partkey").between(1, 50)).count()
        val tf = (System.nanoTime() - t1) / 1e9
        println(f"SCALE skip    m=$m%2d rows=$n%8d files=${paths.size}%3d/${16 * m}%3d " +
          f"out=$out%8d read=$tr%6.1fs fullscan=$tf%6.1fs manifest=$tm%6.1fs")
      }
    }
    // Bloom-manifest point lookup on a hash-scattered layout (zone
    // maps blind by construction): the probed file count must stay
    // ~flat (the keys live in ~|probes| files + false positives at
    // fpp) and the pruned read's wall ~flat while the full filter
    // scan tracks the corpus — the equality-predicate twin of the
    // `skip` section.
    if (wanted("bloomskip")) {
      val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity")
      li0.count() // warm
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => li0.select(
          (col("l_orderkey") + lit(i * 10000000L)).as("l_orderkey"),
          col("l_partkey"), col("l_quantity"))).reduce(_ unionByName _)
        val n = corpus.count()
        val work = graft.CacheDirs.tempWorkDir("graft_stress_bloom_")
        corpus.repartition(16 * m, col("l_orderkey")).write.parquet(s"$work/t")
        val probes: Seq[Any] = Seq(7L, 4242L, 999999L)
        val tm0 = System.nanoTime()
        val manifest = graft.operators.Maintenance.bloomManifest(
          spark.read.parquet(s"$work/t"), "l_orderkey",
          expectedPerFile = math.max(n / (16 * m), 1000L))
        val paths = graft.operators.Maintenance.bloomPrunedPaths(
          manifest, "l_orderkey", probes)
        val tm = (System.nanoTime() - tm0) / 1e9
        val t0 = System.nanoTime()
        val out = spark.read.parquet(paths: _*)
          .filter(col("l_orderkey").isin(probes.map(lit(_)): _*)).count()
        val tr = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        spark.read.parquet(s"$work/t")
          .filter(col("l_orderkey").isin(probes.map(lit(_)): _*)).count()
        val tf = (System.nanoTime() - t1) / 1e9
        println(f"SCALE bloomsk m=$m%2d rows=$n%8d files=${paths.size}%3d/${16 * m}%3d " +
          f"out=$out%8d read=$tr%6.1fs fullscan=$tf%6.1fs manifest=$tm%6.1fs")
      }
    }
    // Exact grid-blocked cosine join in its STRONG regime (t=0.995,
    // blockDims=4): replicas are scaled copies (cosine exactly 1 in
    // real arithmetic), so true pairs grow with replica pairs while
    // wall should track cell-confined candidates, not all-pairs.
    if (wanted("exactblk")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb.count() // warm
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => emb.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          (if (i == 0) col("e") else expr(s"transform(e, x -> x * ${1.0 + 0.0625 / i})")).as("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val t0 = System.nanoTime()
        val pairs = Similarity.exactBlockedNearDups(
          corpus, "vec_id", "e", threshold = 0.995, blockDims = 4).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE exactbk m=$m%2d vecs=$n%7d pairs=$pairs%9d time=$dt%7.1fs")
      }
    }
    // SemDeDup cells: the intra-cell stage is Σ(cell size)²; the
    // 100 TB knob is nClusters GROWING with the corpus. k = 8·m keeps
    // expected cell size constant, so wall should grow ~linearly
    // (assignment is rows × k, pairing stays cell-bounded) while
    // pruned copies (scaled replicas) grow with replica pairs.
    if (wanted("semded")) {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
      emb.count() // warm
      isolatedEach(multiples) { m =>
        val corpus = (0 until m).map(i => emb.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          (if (i == 0) col("e") else expr(s"transform(e, x -> x * ${1.0 + 0.0625 / i})")).as("e")))
          .reduce(_ unionByName _)
        val n = corpus.count()
        val k = 8 * m
        val t0 = System.nanoTime()
        val pruned = Similarity.semanticDedup(corpus, "vec_id", "e",
          nClusters = k, threshold = 0.99).filter(!col("kept")).count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"SCALE semded  m=$m%2d vecs=$n%7d pruned=$pruned%9d k=$k%3d time=$dt%7.1fs")
      }
    }
    // Embedding near-dup: replicas are x1.0625-scaled copies (same
    // hyperplane signature -> guaranteed candidates), so true pairs
    // grow linearly while candidate volume tracks bucket population.
    if (wanted("embed")) {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("e"))
    emb.count() // warm
    isolatedEach(multiples) { m =>
      val corpus = (0 until m).map(i => emb.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        (if (i == 0) col("e") else expr(s"transform(e, x -> x * ${1.0 + 0.0625 / i})")).as("e")))
        .reduce(_ unionByName _)
      val n = corpus.count()
      val t0 = System.nanoTime()
      val pairs = Similarity.embeddingNearDups(corpus, "vec_id", "e", dim = 64, threshold = 0.9).count()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"SCALE embed   m=$m%2d vecs=$n%7d pairs=$pairs%9d time=$dt%7.1fs")
    }
    }
  }
}
