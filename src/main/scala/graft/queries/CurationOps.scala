package graft.queries

import graft.Tables
import graft.operators.{Bm25, Boilerplate, Decontaminate, Dsir, LogReg,
  PreferencePairs, Retrieval, Similarity, TopK}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation operators beyond dedup: benchmark decontamination,
  * BM25 retrieval ranking, boilerplate-span coverage. Every query has a
  * value-exact DuckDB oracle.
  */
object CurationOps {

  private val bm25Terms = Seq("fast", "vector", "stream")

  // Bigram index list [1 .. size-1], EMPTY for 0/1-token docs: Spark's
  // sequence(1, 0) yields the DESCENDING [1, 0], which would evaluate
  // element_at at index 0 / past the array end (ANSI runtime error)
  // where DuckDB's range(1, 1) is cleanly empty (ADVICE r6).
  private def bigramIdx(ts: org.apache.spark.sql.Column) =
    when(size(ts) >= 2, sequence(lit(1), size(ts) - 1))
      .otherwise(array().cast("array<int>"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Benchmark decontamination: docs with doc_id % 50 == 0 stand in for
    // a held-out benchmark; every training doc sharing word-3-gram
    // shingles with a benchmark doc is a contamination candidate, and
    // each benchmark doc reports its worst overlap.
    "q63_decontaminate" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      Decontaminate.report(
        train = docs.filter(col("doc_id") % 50 =!= 0),
        bench = docs.filter(col("doc_id") % 50 === 0),
        idCol = "doc_id", textCol = "text", shingleN = 3,
        contaminatedAt = 0.5)
    }),

    // BM25 keyword retrieval: top-10 docs for a 3-term query, classic
    // Robertson idf, k1=1.2 b=0.75.
    "q64_bm25" -> ((s, d) =>
      Bm25.rank(Tables.load(s, d, "documents"), "doc_id", "text",
        terms = bm25Terms, topK = 10)),

    // Hybrid retrieval: BM25 top-50 (sparse) + exact cosine top-50 for
    // query vector 0 (dense; doc_id ≡ vec_id — the corpus's embedding
    // column), fused by reciprocal-rank fusion 1/(60+rank). The fusion
    // join touches ≤ 100 rows whatever the corpus size — the scale
    // cost stays in the two retrievals, each already scale-shaped
    // (corpus-agg + TakeOrdered; broadcast-query scan + per-query
    // window). Score-free: no BM25↔cosine calibration needed.
    "q157_hybrid_rrf" -> ((s, d) => {
      val emb = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val sparse = Bm25.rank(Tables.load(s, d, "documents"), "doc_id",
          "text", terms = bm25Terms, topK = 50)
        .select(col("doc_id"), col("rank").as("rank_sparse"))
      val dense = Similarity.topK(emb.filter(col("id") === 0L), emb, k = 50)
        .select(col("vec_id").as("doc_id"), col("rank").as("rank_dense"))
      Retrieval.rrfFuse(sparse, dense, "doc_id", "rank_sparse",
        "rank_dense", k0 = 60, topK = 20)
    }),

    // Boilerplate-span coverage: token 3-grams appearing in ≥ 5 distinct
    // docs are boilerplate; per-doc fraction of tokens covered by such
    // spans (the C4-style repetition-removal signal). Runs over the
    // edge-augmented corpus so the short-doc guards are hash-pinned.
    "q66_boilerplate" -> ((s, d) =>
      Boilerplate.spanCoverage(Tables.documentsWithEdges(s, d),
        "doc_id", "text", n = 3, minDf = 5L)),

    // Tokenizer-vocabulary induction stats: the top-30 tokens by corpus
    // frequency with the cumulative coverage curve (what fraction of all
    // token occurrences a vocab of that size captures). The corpus-sized
    // work is ONE map-side-combinable count; the rank window runs on the
    // aggregated vocab table (inherently small — that is the point of a
    // vocabulary), never the corpus. Counts stay longs, so the coverage
    // fraction is one exact division.
    "q67_vocab_coverage" -> ((s, d) => {
      val tok = Tables.load(s, d, "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text")))
          .as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n_occurrences"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_occurrences").desc, col("token"))
      val total = tok.agg(sum(col("n_occurrences")).as("total_occ"))
      tok.crossJoin(broadcast(total))
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_occurrences",
          sum(col("n_occurrences")).over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                          org.apache.spark.sql.expressions.Window.currentRow)))
        .filter(col("rank") <= 30L)
        .select(col("rank"), col("token"), col("n_occurrences"),
          (col("cum_occurrences").cast("double") / col("total_occ").cast("double"))
            .as("cum_coverage"))
    }),

    // In-domain bigram-LM scoring — the CCNet-style "perplexity filter"
    // surrogate: train bigram/head counts on the corpus itself, score
    // each doc by its mean log P(w2|w1). Counts are map-side-combinable
    // group-bys; each log is quantized to a long on the 1e-9 grid
    // (libm ulp discipline) so the per-doc sum is order-free; the mean
    // divides exact longs at the end. Docs scoring far below the corpus
    // mean are the odd-domain/garbage candidates a curation pass drops.
    "q71_bigram_lm" -> ((s, d) => {
      val ts = col("_toks")
      val bg = Tables.documentsWithEdges(s, d)
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          explode(transform(
            bigramIdx(ts),
            i => struct(element_at(ts, i).as("w1"),
                        element_at(ts, i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      bg.join(broadcast(c12), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .select(col("doc_id"),
          floor(log(col("c12").cast("double") / col("c1").cast("double")) * 1e9)
            .cast("long").as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("sum_lp"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sum_lp").cast("double") / 1e9 /
            col("n_bigrams").cast("double")).as("avg_logp"))
    }),

    // Intra-document repetition (the Gopher-rule family's duplicate
    // n-gram fraction): per doc, the share of 2-gram occurrences that
    // are repeats (1 − distinct/total) and the share claimed by the
    // single most frequent 2-gram. Two map-side-combinable group-bys —
    // (doc, bigram) then doc — all integer until the final divisions.
    // High dup_frac ⇒ boilerplate/generated text a curation pass drops.
    "q79_repetition" -> ((s, d) => {
      val ts = col("_toks")
      val bg = Tables.load(s, d, "documents")
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          explode(transform(
            bigramIdx(ts),
            i => struct(element_at(ts, i).as("w1"),
                        element_at(ts, i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      bg.groupBy(col("doc_id"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_2grams"),
             count(lit(1)).as("n_distinct"),
             max(col("c")).as("top_count"))
        .select(col("doc_id"), col("n_2grams"), col("n_distinct"),
          (lit(1.0) - col("n_distinct").cast("double") /
            col("n_2grams").cast("double")).as("dup_frac"),
          (col("top_count").cast("double") /
            col("n_2grams").cast("double")).as("top_frac"))
    }),

    // Held-out bigram-LM scoring — q71 with the train/score leakage
    // removed: counts come ONLY from the 90% train split (doc_id % 10
    // <> 0), the 10% held-out docs are scored, and unseen bigrams get
    // add-one smoothing over the train vocabulary, lp = ln((c12+1) /
    // (c1+V)) — defined even for unseen head words (ln(1/V)). Same
    // long-quantized order-free sum discipline as q71; n_oov counts
    // the bigrams the train split never saw (the signal q71's
    // in-domain form structurally cannot produce).
    "q78_bigram_heldout" -> ((s, d) => {
      val ts = col("_toks")
      val bg = Tables.load(s, d, "documents")
        .select(col("doc_id"), graft.functions.TextFunctions.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          explode(transform(
            bigramIdx(ts),
            i => struct(element_at(ts, i).as("w1"),
                        element_at(ts, i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val train = bg.filter(col("doc_id") % 10 =!= 0)
      val held = bg.filter(col("doc_id") % 10 === 0)
      val c12 = train.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val vocab = train.agg(count_distinct(col("w2")).as("v"))
      held.join(broadcast(c12), Seq("w1", "w2"), "left")
        .join(broadcast(c1), Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          coalesce(col("c12"), lit(0L)).as("c12"),
          floor(log((coalesce(col("c12"), lit(0L)) + 1L).cast("double") /
                    (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
            * 1e9).cast("long").as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
             sum(when(col("c12") === 0L, 1L).otherwise(0L)).as("n_oov"),
             sum(col("lp")).as("sum_lp"))
        .select(col("doc_id"), col("n_bigrams"), col("n_oov"),
          (col("sum_lp").cast("double") / 1e9 /
            col("n_bigrams").cast("double")).as("avg_logp"))
    }),

    // Deterministic negative sampling for contrastive pairs: each query
    // doc draws k=5 pseudo-random negatives ranked by md5(query|doc) —
    // replayable bit-for-bit under retry, no RNG state (the q45
    // discipline applied to pair construction). Same broadcast-queries
    // one-corpus-scan shape as the brute-force kNN baseline (q26).
    "q84_negative_sampling" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select(col("doc_id"))
      val qs = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("h"), col("doc_id"))
      docs.crossJoin(broadcast(qs))
        .filter(col("doc_id") =!= col("query_id"))
        .withColumn("h", md5(concat(col("query_id").cast("string"),
          lit("|"), col("doc_id").cast("string"))))
        .withColumn("neg_rank", row_number().over(w).cast("long"))
        .filter(col("neg_rank") <= 5L)
        .select(col("query_id"), col("neg_rank"),
          col("doc_id").as("neg_doc_id"), col("h"))
    }),

    // q84's SCALE path: direct construction instead of rank-over-
    // corpus. q84 draws negatives as "5 smallest md5 over all docs" —
    // a deliberate brute-force yardstick whose pair space is n²/100.
    // The production sampler addresses the corpus once: a one-time
    // sorted index (orderBy + zipWithIndex — a range shuffle, never a
    // single-partition window), then each query generates 8 candidate
    // INDICES by hash (md5 mod n), equi-joins them against the index,
    // drops self/duplicate hits, and keeps the first 5 by draw order —
    // O(corpus log corpus) once + O(queries · k) per run, replayable
    // bit-for-bit (no RNG state), same contrastive-pair contract.
    "q145_negative_sampling_direct" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.load(s, d, "documents").select(col("doc_id"))
      val n = docs.count()
      val indexed = docs.orderBy(col("doc_id")).as[Long].rdd
        .zipWithIndex().toDF("neg_doc_id", "idx")
      val qs = docs.filter(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("query_id"))
      val cand = qs
        .select(col("query_id"),
          explode(sequence(lit(1), lit(8))).as("j"))
        .withColumn("idx",
          conv(substring(md5(concat(col("query_id").cast("string"),
            lit("|"), col("j").cast("string"))), 1, 15), 16, 10)
            .cast("long") % lit(n))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("j"))
      cand.join(indexed, Seq("idx"))
        .filter(col("neg_doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("neg_doc_id"))
        .agg(min(col("j")).as("j"))
        .withColumn("neg_rank", row_number().over(w).cast("long"))
        .filter(col("neg_rank") <= 5L)
        .select(col("query_id"), col("neg_rank"), col("neg_doc_id"))
    }),

    // T5-style span corruption: tokens partition into fixed 3-token
    // blocks; a block is masked iff a hash of (doc, block) selects it
    // (deterministic, replayable — no RNG), giving ~20% corruption with
    // no overlap by construction. The masked input keeps one
    // <extra_id_K> sentinel per span (K = span order) and the target
    // pairs each sentinel with its hidden tokens — the exact
    // denoising-objective data layout. Map-only until the per-doc
    // ordered reassembly (one groupBy on doc_id).
    "q89_span_corruption" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("blk"))
      val tok = Tables.load(s, d, "documents")
        .select(col("doc_id"),
          posexplode(graft.functions.TextFunctions.tokens(col("text")))
            .as(Seq("p0", "token")))
        .select(col("doc_id"), (col("p0") + 1).as("pos"), col("token"),
          (col("p0") / 3).cast("long").as("blk"))
        .withColumn("sel",
          conv(substring(md5(concat(col("doc_id").cast("string"), lit("|"),
            col("blk").cast("string"))), 1, 4), 16, 10).cast("long") % 5 === 0)
      val selBlocks = tok.filter(col("sel"))
        .groupBy(col("doc_id"), col("blk"))
        .agg(min(col("pos")).as("blk_start"))
        .withColumn("k", (row_number().over(w) - 1).cast("long"))
      val pieces = tok.join(selBlocks, Seq("doc_id", "blk"), "left")
        .select(col("doc_id"), col("pos"), col("token"), col("blk"),
          col("k"), col("blk_start"),
          when(col("k").isNull, col("token"))
            .when(col("pos") === col("blk_start"),
              concat(lit("<extra_id_"), col("k"), lit(">")))
            .otherwise(lit(null)).as("in_piece"))
      val joined = (c: org.apache.spark.sql.Column) =>
        array_join(transform(array_sort(c), x => x.getField("piece")), " ")
      pieces.groupBy(col("doc_id"))
        .agg(
          joined(collect_list(when(col("in_piece").isNotNull,
            struct(col("pos"), col("in_piece").as("piece"))))).as("masked_input"),
          joined(collect_list(when(col("k").isNotNull,
            struct(col("pos"),
              when(col("pos") === col("blk_start"),
                concat(lit("<extra_id_"), col("k"), lit("> "), col("token")))
                .otherwise(col("token")).as("piece"))))).as("target"),
          count_distinct(when(col("k").isNotNull, col("blk"))).as("n_spans"))
    }),

    // DSIR-style importance weighting: sources src0-src3 stand in for
    // the curated target domain; every doc scores its hashed-unigram
    // importance log-ratio against the raw corpus and keep ⇔ ratio > 0.
    "q90_dsir_weights" -> ((s, d) =>
      Dsir.importance(Tables.load(s, d, "documents"), "doc_id", "text",
        isTarget = col("source").isin("src0", "src1", "src2", "src3"))),

    // Per-domain document cap (the Common-Crawl "no source dominates"
    // rule): keep 10 docs per source in deterministic md5 order, ranked
    // by the bounded TopK AGGREGATE — no corpus-wide window; the
    // shuffle carries ≤ k rows per source per mapper (q87's plan shape
    // applied to curation).
    // Temperature-based domain mixture (the UnifiedQA / LLaMA-style
    // rebalance): sampling weight per domain ∝ count^α. α = 1/2 on
    // purpose — sqrt is the one power IEEE 754 requires to be exactly
    // rounded, so the weights (quantized to the 1e-6 grid) are
    // bitwise-reproducible in any engine, unlike pow(c, 0.7). Share
    // math stays in integer space end-to-end: floor(sqrt·1e6) longs,
    // then long `div` for parts-per-million (wq ≤ 1e12 even at a
    // trillion docs per domain, so wq·1e6 never overflows a long).
    // One combinable count, one broadcast total — two tiny shuffles.
    "q110_domain_mixture" -> ((s, d) => {
      val counts = Tables.load(s, d, "documents")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
        .withColumn("wq",
          floor(sqrt(col("n_docs").cast("double")) * 1e6).cast("long"))
      val tot = counts.agg(sum(col("wq")).as("tw"))
      counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("wq"),
          expr("wq * 1000000L div tw").as("share_ppm"))
    }),

    // Temperature-scaled mixture SAMPLING (the multilingual-corpus
    // rebalance recipe: p_s ∝ tokens_s^(1/T), T=2): per-source token
    // sums set acceptance rates (largest source = 1.0, smaller sources
    // boosted toward flat), then each doc's keep/drop is a
    // deterministic md5-bucket test — replayable, no RNG state. q110
    // computes target SHARES; this materializes the sampled corpus.
    // Two metadata-sized aggs + one broadcast join: doc scan stays
    // map-only, nothing shuffles at corpus scale.
    "q134_temperature_mix" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents").select(
        col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"),
        (conv(substring(md5(concat(lit("tm|"), col("doc_id").cast("string"))),
           1, 6), 16, 10).cast("long") % 1000000L).as("bucket_ppm"))
      val w = docs.groupBy(col("source")).agg(sum(col("n_tok")).as("tok_s"))
        // quantized sqrt weight (T=2): order-free long arithmetic
        .withColumn("wq",
          floor(sqrt(col("tok_s").cast("double")) * 1e6).cast("long"))
      val mx = w.agg(max(col("wq")).as("wmax"))
      val rates = w.crossJoin(broadcast(mx))
        .select(col("source"), col("tok_s"),
          expr("wq * 1000000L div wmax").as("rate_ppm"))
      docs.join(broadcast(rates), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("rate_ppm"),
          (col("bucket_ppm") < col("rate_ppm")).as("sampled"))
    }),

    "q91_domain_cap" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("source"),
          (-conv(substring(md5(concat(lit("cap|"), col("doc_id").cast("string"))),
            1, 8), 16, 10).cast("long").cast("double")).as("nord"),
          col("doc_id"))
      TopK.perKeyDesc(docs, "source", "nord", "doc_id", k = 10)
        .select(col("source"), col("doc_id"), col("rank"))
    }),

    // Maximal cross-doc duplicated spans (token 3-grams in ≥ 2 docs,
    // gaps-and-islands merge) — the extents an exact substring-dedup
    // rewrite strips. Edge corpus: the bit-identical 9000006/9000007
    // pair pins cross-doc dup spans; empty/1/2-token docs pin the
    // short-doc guard.
    "q92_dup_spans" -> ((s, d) =>
      Boilerplate.dupSpans(Tables.documentsWithEdges(s, d),
        "doc_id", "text", n = 3, minDf = 2L)),

    // ...and the rewrite itself: documents reassembled from the tokens
    // outside every duplicated span, with removal accounting.
    "q100_dup_strip" -> ((s, d) =>
      Boilerplate.stripDupSpans(Tables.documentsWithEdges(s, d),
        "doc_id", "text", n = 3, minDf = 2L)),

    // Distributed quality-classifier training: logistic regression
    // (is-English from 4 layout features), 2 unrolled full-batch GD
    // rounds, each ONE map-side-combinable aggregate; gradients are
    // order-free long sums, the sigmoid is 1e-9-quantized.
    "q93_logreg_quality" -> ((s, d) => {
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val feats = Tables.load(s, d, "documents")
        .select(col("text"), col("lang"), col("n_chars"), toks.as("_toks"))
        .select(
          when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
          lit(1.0).as("x0"),
          (size(col("_toks")).cast("double") / 100.0).as("x1"),
          (size(array_distinct(col("_toks"))).cast("double") /
            size(col("_toks")).cast("double")).as("x2"),
          (col("n_chars").cast("double") / 1000.0).as("x3"))
      LogReg.train(feats, dim = 4, lr = 0.5, rounds = 2)
    }),

    // Model-based quality filtering, APPLY side — q93 trains the
    // classifier, this scores the whole corpus with it and makes the
    // keep/drop decision (the CCNet/Dolma "model filter" stage). The
    // trained weights are model-sized: collected once and inlined as
    // literals, so scoring is a pure map over the corpus — zero
    // shuffle, zero joins. Same quantized sigmoid as training, so the
    // scores are engine-exact.
    "q140_quality_inference" -> ((s, d) =>
      // operating point calibrated for the 2-round model (scores
      // live in a narrow band around the 0.5 prior after 2 GD rounds
      // from zero weights); any fixed threshold is engine-exact
      logRegScored(s, d).select(col("doc_id"), col("quality"),
        (col("quality") >= 0.4765).as("keep"))),

    // Margin-based preference-PAIR mining — the reward-model / DPO
    // data-construction step over q140's pointwise scores: inside
    // each (source, shard) stratum the i-th best doc pairs with the
    // i-th worst, kept when the gap clears 2e-3 on the 1e-9 grid
    // (~the median stratum gap, so both verdicts stay live: 116 of
    // 215 raw pairs survive at sf0.01). Shards are md5 buckets —
    // window partitions are corpus/(sources·8), never corpus-wide —
    // and gaps are exact long arithmetic (see PreferencePairs).
    "q181_preference_pairs" -> ((s, d) => {
      val scored = logRegScored(s, d)
        .join(Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          floor(col("quality") * 1e9 + 0.5).cast("long").as("q9"))
      PreferencePairs.mine(scored, "doc_id", "source", "q9",
          nShards = 8, marginQ = 2000000L)
        .select(col("stratum").as("source"), col("shard"),
          col("pair_rank"), col("chosen_id"), col("rejected_id"),
          col("gap_q").as("gap_q9"))
    }),

    // CORPUS DATA CARD — the per-source release sheet every corpus
    // ships with, composed from FOUR spec'd chains in one query:
    // volume (docs/chars/tokens), sentence-duplication rate (q188's
    // first-occurrence rule), near-dup document rate (q183's
    // cluster-canonical rule — non-keepers), and mean classifier
    // quality (q140's scored chain; edge docs are unscored → NULL
    // mean, guarded on both engines). Every rate is exact integer
    // ppm; any regression in any composed family breaks this hash
    // ALONGSIDE the family's own oracle (the q154/q164 capstone
    // discipline, now spanning modules).
    "q190_corpus_card" -> ((s, d) => {
      import graft.functions.TextFunctions._
      val W = org.apache.spark.sql.expressions.Window
      val docs = Tables.documentsWithEdges(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
      val sp = graft.queries.TextOps.sentenceRows(s, d)
        .withColumn("pk", col("doc_id") * 1000000L + col("sent_idx") +
          coalesce(expr("assert_true(sent_idx < 1000000)").cast("long"),
            lit(0L)))
      val keepers = sp.groupBy(col("sent_text"))
        .agg(min(col("pk")).as("keep_pk"))
      val sd = sp.join(keepers, Seq("sent_text"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_sents"),
          sum(when(col("pk") =!= col("keep_pk"), 1L).otherwise(0L))
            .as("n_struck"))
      val pairs = graft.operators.Dedup
        .minhashLsh(Tables.documentsWithEdges(s, d), "doc_id", "text")
        .select(col("id_a"), col("id_b"))
      val lab = docs.select(col("doc_id"), col("source"), col("n_chars"))
        .join(graft.operators.Dedup.connectedComponents(pairs),
          Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val dup = lab.withColumn("rn", row_number().over(
          W.partitionBy(col("cluster_id"))
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .groupBy(col("source"))
        .agg(sum(when(col("rn") > 1, 1L).otherwise(0L)).as("dup_docs"))
      val qual = docs.select(col("doc_id"), col("source"))
        .join(logRegScored(s, d), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_scored"),
          sum(floor(col("quality") * 1e9 + 0.5).cast("long")).as("sum_q9"))
      val sda = docs.select(col("doc_id"), col("source"))
        .join(sd, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("n_sents")).as("n_sents"),
          sum(col("n_struck")).as("n_struck"))
      docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          sum(col("n_tokens")).as("tokens_total"))
        .join(sda, Seq("source"), "left")
        .join(dup, Seq("source"), "left")
        .join(qual, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_chars_total"),
          col("tokens_total"),
          coalesce(col("n_sents"), lit(0L)).as("n_sents"),
          coalesce(col("n_struck"), lit(0L)).as("n_struck"),
          when(coalesce(col("n_sents"), lit(0L)) > 0L,
            expr("n_struck * 1000000L div n_sents")).otherwise(0L)
            .as("sent_dup_ppm"),
          coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
          expr("coalesce(dup_docs, 0L) * 1000000L div n_docs")
            .as("dup_doc_ppm"),
          coalesce(col("n_scored"), lit(0L)).as("n_scored"),
          when(coalesce(col("n_scored"), lit(0L)) > 0L,
            expr("sum_q9 div n_scored")).as("mean_quality_e9"))
    }),

    // The MAINTAINED corpus card (VERDICT r9 Missing #5): q190's
    // relation read from CorpusCard lake state — built over docs
    // < 400, ONE refresh folding the rest (SimulatedStore, so the
    // bench times the card read: a groupBy-sum over per-source delta
    // rows + the cluster-bounded dup ranking — not the four family
    // chains). The dup closure is maintained by refreshClustersExact,
    // which is what lets this share q190's from-scratch oracle
    // hash-for-hash; sentence counts rely on the monotone-pk batch
    // contract (doc-id-ordered batches), and the quality scorer is
    // frozen (same full-corpus model both paths).
    "q199_corpus_card_stored" -> ((s, d) => {
      def mk(st: graft.gdl.TableStore) =
        new graft.operators.CorpusCard(st, "card",
          docs => graft.queries.TextOps.sentenceRows(s, d)
            .join(docs.select(col("doc_id")), Seq("doc_id")),
          docs => logRegScored(s, d).select(col("doc_id"), col("quality"))
            .join(docs.select(col("doc_id")), Seq("doc_id")))
      val docs = Tables.documentsWithEdges(s, d)
      val store = SimulatedStore.tableStore(s, d, "q199_card_v3") { st =>
        val card = mk(st)
        card.build(docs.filter(col("doc_id") < 400L))
        card.refreshBatch(docs.filter(col("doc_id") >= 400L), docs,
          batchId = 0L)
      }
      mk(store).card()
    }),

    // Reliability diagram for the q93/q140 classifier — the eval that
    // tells you whether "quality 0.48" MEANS 48%: fixed-width percent
    // bins of the predicted score vs the observed positive rate.
    // One map-combinable aggregate (bins are data-independent, no
    // corpus window, no ntile sort); means/rates on the exact
    // quantized-long grid.
    "q165_calibration" -> ((s, d) =>
      logRegScored(s, d)
        .groupBy(floor(col("quality") * 100).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"),
          sum(floor(col("quality") * 1e9).cast("long")).as("sum_q_e9"))
        .select(col("bin"), col("n"), col("n_pos"),
          expr("n_pos * 1000000L div n").as("pos_ppm"),
          expr("sum_q_e9 div n").as("mean_quality_e9"))),

    // Training-mix assembly under a token budget: 30% of corpus tokens,
    // split across sources by weight (even-numbered sources get 2×), and
    // filled per source in deterministic md5-hash order until the
    // source's budget is exhausted. Everything is integer arithmetic, so
    // the mix is replayable bit-for-bit under retry.
    //
    // Scale shape (VERDICT r4 #2): source cardinality is tiny (domains),
    // so a cumulative window partitioned by source sorts an entire
    // source's documents on ONE reducer. Instead, a two-phase prefix
    // sum: docs bucket by the first 2 hex chars of their order hash
    // (bucket order ≡ hash order, so bucketing refines — never reorders —
    // the fill sequence); per-bucket token sums (sources×256 rows) are
    // prefix-summed by a METADATA-sized window; buckets wholly inside
    // the budget pass with no row window at all, buckets past it drop
    // wholesale, and only the single boundary bucket per source runs a
    // row-level cumsum — over 1/256th of a source.
    "q68_token_budget_mix" -> ((s, d) =>
      tokenBudgetMix(Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens")))),

    // q68 re-based on TOKENIZER-ACCURATE counts: the identical budget/
    // mix chain, but n_tokens comes from the byte-level BPE family
    // (GPT-2 pretokenizer + 8 trained byte merges) instead of
    // whitespace splitting. Same corpus, same budget rule — the
    // per-source keep sets shift because the whitespace count
    // under-bills multi-piece words (NOTES records the measured
    // whitespace-vs-BPE ratio on this corpus).
    "q171_bpe_budget_mix" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
      // replays the STORED q220 artifact (r12 #3): apply cost, not 8
      // sequential training rounds; values identical by q220's pin
      tokenBudgetMix(docs.select(col("doc_id"), col("source"))
        .join(graft.operators.Bpe.byteTokenCountsWith(
          docs, "doc_id", "text", TextOps.storedBpe8(s, d).merges),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          col("n_bpe_tokens").as("n_tokens")))
    }),

    // CCNet-style perplexity bucketing: score every doc with the
    // in-domain bigram LM (q71's exact-long discipline), then split the
    // corpus into equal-frequency head / middle / tail thirds by score
    // — head is what CCNet keeps, tail what it drops or downweights.
    // Scale shape: the per-doc mean is quantized to the exact long grid
    // ((−sum_lp) div n — both operands non-negative, so truncating and
    // floor division agree across engines), the tertile boundaries come
    // from a cumulative window over the VALUE-COUNT table (distinct
    // quantized means, never the corpus — the q94 equi-depth
    // discipline), and docs get their bucket from a broadcast of just
    // the TWO cut values. Ties share a bucket: deterministic, no
    // doc-order dependence.
    "q141_perplexity_buckets" -> ((s, d) => {
      val ts = col("_toks")
      val bg = Tables.documentsWithEdges(s, d)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("_toks"))
        .select(col("doc_id"),
          explode(transform(
            bigramIdx(ts),
            i => struct(element_at(ts, i).as("w1"),
                        element_at(ts, i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      val c12 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val scores = bg.join(broadcast(c12), Seq("w1", "w2"))
        .join(broadcast(c1), Seq("w1"))
        .select(col("doc_id"),
          floor(log(col("c12").cast("double") / col("c1").cast("double")) * 1e9)
            .cast("long").as("lp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp")).as("sum_lp"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("(-sum_lp) div n_bigrams").as("mean_q"),
          (col("sum_lp").cast("double") / 1e9 /
            col("n_bigrams").cast("double")).as("avg_logp"))
      val vc = scores.groupBy(col("mean_q")).agg(count(lit(1)).as("c"))
      val tot = vc.agg(sum(col("c")).as("t"))
      val W = org.apache.spark.sql.expressions.Window
      val tiled = vc.crossJoin(broadcast(tot))
        .withColumn("cb", coalesce(sum(col("c")).over(
          W.orderBy(col("mean_q"))
            .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .withColumn("tile", expr("(cb * 3) div t"))
      val cuts = tiled.agg(
        min(when(col("tile") >= 1L, col("mean_q"))).as("cut_mid"),
        min(when(col("tile") >= 2L, col("mean_q"))).as("cut_tail"))
      scores.crossJoin(broadcast(cuts))
        .select(col("doc_id"), col("n_bigrams"), col("avg_logp"),
          when(col("mean_q") >=
              coalesce(col("cut_tail"), lit(Long.MaxValue)), lit("tail"))
            .when(col("mean_q") >=
              coalesce(col("cut_mid"), lit(Long.MaxValue)), lit("middle"))
            .otherwise(lit("head")).as("ppl_bucket"))
    }),

    // Training-export tier 1/3 — concatenate-and-chunk sequence
    // packing (the GPT-style data prep): per-source token tape cut
    // into 128-token sequences, one row per (document × overlapped
    // sequence) with in-sequence and absolute spans. Runs over the
    // edge corpus so the zero-token rule is pinned: empty and
    // whitespace-only docs occupy NO tape and emit NO segment.
    "q213_sequence_pack" -> ((s, d) =>
      graft.operators.SequencePack.chunk(packTape(s, d),
        "source", "doc_id", "n_tok", 128L)),

    // Training-export tier 2/3 — per-source packing report: fill
    // ratio in exact ppm (only the final sequence of a stream can be
    // short) and boundary crossings (#segments − #docs).
    "q214_packing_stats" -> ((s, d) =>
      graft.operators.SequencePack.stats(
        graft.operators.SequencePack.chunk(packTape(s, d),
          "source", "doc_id", "n_tok", 128L),
        "source", "doc_id", 128L)),

    // Training-export tier 3/3 — shard manifest: sequences grouped
    // 16-per-shard per source; the export writer's unit of work and
    // the resume/verify ledger (a shard re-export must land
    // byte-identical, so every manifest row is value-exact).
    "q215_shard_manifest" -> ((s, d) =>
      graft.operators.SequencePack.shardManifest(
        graft.operators.SequencePack.chunk(packTape(s, d),
          "source", "doc_id", "n_tok", 128L),
        "source", "doc_id", 16L)),

    // Training-export tier, MAINTAINED form: the stored corpus
    // (doc_id < 400) is already packed; the batch (everything else,
    // edge docs included) appends to each stream's stored tape_end
    // ledger in O(batch). The oracle is the FROM-SCRATCH q213 rule
    // restricted to batch rows — append-only tape makes incremental
    // ≡ full repack by construction, and this pins it by hash (the
    // q189/q195 incremental-index discipline on the export tier).
    "q216_sequence_pack_incremental" -> ((s, d) => {
      import graft.operators.SequencePack
      val tape = packTape(s, d)
      val offsets = SequencePack.tapeOffsets(
        SequencePack.chunk(tape.filter(col("doc_id") < 400L),
          "source", "doc_id", "n_tok", 128L), "source")
      SequencePack.appendChunk(tape.filter(col("doc_id") >= 400L),
        offsets, "source", "doc_id", "n_tok", 128L)
    }),

    // Export capstone: the packing tier fed by the TRAINED tokenizer —
    // byte-BPE (q170's 8 corpus-weighted merges) supplies real token
    // counts, the tape is cut into 512-token sequences and
    // manifested 16/shard. A regression in BPE training, the
    // GPT-2-style pre-tokenization, OR the packing arithmetic breaks
    // this hash alongside its own family's (the q190 composition
    // discipline applied to the export tier).
    "q217_bpe_packed_export" -> ((s, d) => {
      import graft.operators.SequencePack
      val docs = Tables.load(s, d, "documents")
      // stored-tokenizer replay (r12 #3) — the capstone still breaks
      // on a BPE/pretokenization regression through q220's stored ≡
      // scratch pin plus q170's from-scratch oracle
      val counts = docs.select(col("doc_id"), col("source"))
        .join(graft.operators.Bpe.byteTokenCountsWith(
          docs, "doc_id", "text", TextOps.storedBpe8(s, d).merges),
          Seq("doc_id"))
        .select(col("source"), col("doc_id"),
          col("n_bpe_tokens").as("n_tok"))
      SequencePack.shardManifest(
        SequencePack.chunk(counts, "source", "doc_id", "n_tok", 512L),
        "source", "doc_id", 16L)
    })
  )

  /** Shared input for the q213–q215 export tier: the edge corpus with
    * whitespace token counts (null text → 0 tokens → no tape). */
  private def packTape(s: SparkSession, d: String): DataFrame =
    Tables.documentsWithEdges(s, d)
      .select(col("source"), col("doc_id"),
        graft.functions.TextFunctions
          .tokenCount(coalesce(col("text"), lit(""))).as("n_tok"))

  // ---- oracle SQL ----------------------------------------------------

  /** The q68 budget-mix oracle over any `(doc_id, source, n_tokens)`
    * block `d0` (a full SELECT, parenthesized here) — the simple
    * one-window cumsum form, value-equivalent to the engine's
    * two-phase bucketed fill. q68 feeds whitespace counts, q171 the
    * byte-level BPE counts. */
  private def tokenBudgetMixSql(d0: String): String =
    s"""WITH d0 AS ($d0),
        d AS (SELECT doc_id, source, n_tokens,
                     md5('mix|' || CAST(doc_id AS VARCHAR)) AS h,
                     CASE WHEN CAST(regexp_extract(source, '(\\d+)$$', 1)
                                    AS BIGINT) % 2 = 0
                          THEN 2 ELSE 1 END AS weight
              FROM d0),
        ps AS (SELECT source, weight, CAST(sum(n_tokens) AS BIGINT) AS src_tokens
               FROM d GROUP BY source, weight),
        tot AS (SELECT CAST(sum(src_tokens) AS BIGINT) AS total_tokens,
                       CAST(sum(src_tokens * weight) AS BIGINT) AS wt_tokens
                FROM ps),
        pb AS (SELECT source,
                      CAST(floor(CAST(total_tokens AS DOUBLE) * 0.3
                             * CAST(src_tokens * weight AS DOUBLE)
                             / CAST(wt_tokens AS DOUBLE)) AS BIGINT) AS src_budget
               FROM ps CROSS JOIN tot),
        c AS (SELECT d.source, d.n_tokens, pb.src_budget,
                     sum(d.n_tokens) OVER (PARTITION BY d.source
                          ORDER BY d.h, d.doc_id ROWS UNBOUNDED PRECEDING)
                       AS cum_tokens
              FROM d JOIN pb USING (source))
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs_kept,
               CAST(sum(n_tokens) AS BIGINT) AS tokens_kept, src_budget
        FROM c WHERE cum_tokens <= src_budget
        GROUP BY source, src_budget"""

  /** q140's train-then-score pipeline as a reusable DataFrame:
    * (doc_id, y, quality) — 2 GD rounds from zero weights, the model
    * collected once (4 doubles), corpus scored by the quantized
    * sigmoid. q165's calibration bins consume it. */
  /** q68's budget-mix chain over any (doc_id, source, n_tokens) input —
    * factored so q171 runs the identical rule with BPE-denominated
    * counts. Per-source budget = (30% of all tokens) · weighted-token
    * share (floor keeps it integer-exact in any engine); the fill is
    * the two-phase hex-prefix-bucket cumsum: interior buckets pass
    * wholesale off a 256-row prefix-sum, only the boundary bucket pays
    * a row-level window — no per-source corpus-wide sort. */
  private def tokenBudgetMix(d0: DataFrame): DataFrame = {
    val docs = d0.select(col("doc_id"), col("source"), col("n_tokens"),
      md5(concat(lit("mix|"), col("doc_id").cast("string"))).as("h"),
      when(regexp_extract(col("source"), "(\\d+)$", 1).cast("long") % 2 === 0,
        lit(2L)).otherwise(lit(1L)).as("weight"))
    val perSrcStats = docs.groupBy(col("source"), col("weight"))
      .agg(sum(col("n_tokens")).as("src_tokens"))
    val totals = perSrcStats.agg(
      sum(col("src_tokens")).as("total_tokens"),
      sum(col("src_tokens") * col("weight")).as("wt_tokens"))
    val perSrc = perSrcStats.crossJoin(broadcast(totals))
      .select(col("source"),
        floor(col("total_tokens").cast("double") * 0.3 *
          (col("src_tokens") * col("weight")).cast("double") /
          col("wt_tokens").cast("double")).as("src_budget"))
    val W = org.apache.spark.sql.expressions.Window
    // hex-prefix bucket: numeric order == lexicographic order of the
    // prefix, so (bucket, h, doc_id) == the global (h, doc_id) order
    val bucketed = docs.join(broadcast(perSrc), Seq("source"))
      .withColumn("bucket", conv(substring(col("h"), 1, 2), 16, 10).cast("long"))
    val bucketTotals = bucketed.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tokens")).as("b_tokens"))
    // phase 1: prefix-sum the TINY per-bucket totals (≤ sources×256 rows)
    val offsets = bucketTotals.withColumn("b_offset",
      coalesce(sum(col("b_tokens")).over(
        W.partitionBy(col("source")).orderBy(col("bucket"))
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    val withOff = bucketed.join(broadcast(offsets), Seq("source", "bucket"))
    // phase 2: interior buckets pass wholesale; only the boundary
    // bucket (straddling the budget) needs a row-level cumsum
    val interior = withOff.filter(
      col("b_offset") + col("b_tokens") <= col("src_budget"))
    val boundaryKept = withOff.filter(
      col("b_offset") < col("src_budget") &&
        col("b_offset") + col("b_tokens") > col("src_budget"))
      .withColumn("cum_tokens", col("b_offset") + sum(col("n_tokens")).over(
        W.partitionBy(col("source"), col("bucket"))
          .orderBy(col("h"), col("doc_id"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .filter(col("cum_tokens") <= col("src_budget"))
      .drop("cum_tokens")
    interior.unionByName(boundaryKept)
      .groupBy(col("source"), col("src_budget"))
      .agg(count(lit(1)).as("n_docs_kept"),
           sum(col("n_tokens")).as("tokens_kept"))
      .select(col("source"), col("n_docs_kept"), col("tokens_kept"),
              col("src_budget"))
  }

  private def logRegScored(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val feats = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("n_chars"),
        toks.as("_toks"))
      .select(
        col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
        lit(1.0).as("x0"),
        (size(col("_toks")).cast("double") / 100.0).as("x1"),
        (size(array_distinct(col("_toks"))).cast("double") /
          size(col("_toks")).cast("double")).as("x2"),
        (col("n_chars").cast("double") / 1000.0).as("x3"))
    val w = LogReg.train(feats.drop("doc_id"), dim = 4, lr = 0.5, rounds = 2)
      .filter(col("round") === 2).orderBy(col("j"))
      .collect().map(_.getDouble(2)).toSeq // 4 doubles — model-sized
    feats.select(col("doc_id"), col("y"),
      LogReg.score(w, (0 until 4).map(j => col(s"x$j"))).as("quality"))
  }

  private val toksSql =
    """list_filter(string_split_regex(text, '\s+'), x -> x <> '')"""

  /** The q64 BM25 oracle parameterized by topK — q157's sparse arm
    * reuses it at k=50. Score literals mirror the Scala side:
    * (1.2 + 1.0), (1.0 - 0.75) are COMPUTED in both engines so the
    * doubles agree bitwise; idf is quantized to the 1e-9 grid to
    * absorb ≤1-ulp libm ln differences. */
  private def bm25TopSql(topK: Int): String = {
    val tfCols = bm25Terms.indices.map(i =>
      s"CAST(len(list_filter(toks, x -> x = '${bm25Terms(i)}')) AS BIGINT) AS tf_$i")
      .mkString(",\n                 ")
    val dfCols = bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$i")
      .mkString(",\n                 ")
    val termScores = bm25Terms.indices.map(i =>
      s"""((floor(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_$i AS DOUBLE) + 0.5)
                    / (CAST(df_$i AS DOUBLE) + 0.5)) * 1e9 + 0.5) / 1e9)
           * (CAST(tf_$i AS DOUBLE) * (1.2 + 1.0))
           / (CAST(tf_$i AS DOUBLE)
              + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE)
                       / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))""")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        tf AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
               $tfCols
               FROM t),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(dl) AS BIGINT) AS sum_dl,
               $dfCols
               FROM tf),
        sc AS (SELECT doc_id, dl, $termScores AS score
               FROM tf CROSS JOIN st),
        top AS (SELECT doc_id, dl, score FROM sc
                ORDER BY score DESC, doc_id LIMIT $topK)
        SELECT doc_id, dl, score,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                 AS rank
        FROM top"""
  }

  /** Distinct word-3-gram shingle rows per doc (mirrors
    * Dedup.shingleRows at n=3). */
  private val shingle3Sql =
    s"""sh0 AS (SELECT doc_id,
                       unnest(list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                              i -> w[CAST(i AS INTEGER)] || ' ' || w[CAST(i AS INTEGER) + 1]
                                   || ' ' || w[CAST(i AS INTEGER) + 2])) AS shingle
                FROM (SELECT doc_id, $toksSql AS w FROM documents)),
        sh AS (SELECT DISTINCT doc_id, shingle FROM sh0)"""

  /** q140's full unrolled 2-round GD + scoring chain as one SQL query
    * yielding (doc_id, y, quality) — mirrors LogReg.train/score (the
    * q93 discipline: sigmoid 1e-9-quantized, gradient terms 1e-12
    * longs, driver-double update). q140 and q165 both wrap it. */
  private lazy val logRegScoredSql: String = {
      def z(ws: Seq[String]) =
        ws.zipWithIndex.map { case (w, j) => s"$w * x$j" }.mkString(" + ")
      def p(ws: Seq[String]) =
        s"""CAST(CAST(floor(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
           + exp(-(${z(ws)}))) * 1e9) AS BIGINT) AS DOUBLE) / 1e9"""
      def grads(ws: Seq[String]) = (0 until 4).map(j =>
        s"""sum(CAST(floor((${p(ws)} - y) * x$j * 1e12) AS BIGINT)) AS g$j""")
        .mkString(",\n                 ")
      val w0 = Seq.fill(4)("CAST(0 AS DOUBLE)")
      val w1 = (0 until 4).map(j => s"w1_$j")
      val w2 = (0 until 4).map(j => s"w2_$j")
      val upd1 = (0 until 4).map(j =>
        s"""CAST(0 AS DOUBLE) - CAST(0.5 AS DOUBLE)
            * (CAST(g$j AS DOUBLE) / 1e12 / CAST(n AS DOUBLE)) AS w1_$j""")
        .mkString(",\n                 ")
      val upd2 = (0 until 4).map(j =>
        s"""w1.w1_$j - CAST(0.5 AS DOUBLE)
            * (CAST(g2.g$j AS DOUBLE) / 1e12 / CAST(w1.n AS DOUBLE)) AS w2_$j""")
        .mkString(",\n                 ")
      s"""WITH f AS (SELECT doc_id,
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y,
                 CAST(1 AS DOUBLE) AS x0,
                 CAST(len(toks) AS DOUBLE) / 100.0 AS x1,
                 CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS x2,
                 CAST(n_chars AS DOUBLE) / 1000.0 AS x3
               FROM (SELECT doc_id, $toksSql AS toks, lang, n_chars
                     FROM documents)),
          g1 AS (SELECT count(*) AS n,
                 ${grads(w0)}
                 FROM f),
          w1 AS (SELECT n,
                 $upd1
                 FROM g1),
          g2 AS (SELECT
                 ${grads(w1)}
                 FROM f CROSS JOIN w1),
          w2 AS (SELECT
                 $upd2
                 FROM g2 CROSS JOIN w1),
          scored AS (SELECT f.doc_id, f.y, ${p(w2)} AS quality
                     FROM f CROSS JOIN w2)
          SELECT doc_id, y, quality FROM scored"""
  }

  def oracles: Map[String, String] = Map(
    "q63_decontaminate" ->
      s"""WITH $shingle3Sql,
          b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0),
          tr AS (SELECT doc_id AS train_id, shingle FROM sh WHERE doc_id % 50 <> 0),
          bc AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_bench_sh
                 FROM b GROUP BY bench_id),
          ov AS (SELECT tr.train_id, b.bench_id, count(*) AS n_shared
                 FROM tr JOIN b USING (shingle) GROUP BY 1, 2),
          pr AS (SELECT ov.bench_id,
                        count(*) AS n_candidates,
                        max(CAST(n_shared AS DOUBLE) / CAST(n_bench_sh AS DOUBLE))
                          AS max_overlap,
                        sum(CASE WHEN CAST(n_shared AS DOUBLE)
                                      / CAST(n_bench_sh AS DOUBLE) >= 0.5
                                 THEN 1 ELSE 0 END) AS n_contaminated
                 FROM ov JOIN bc USING (bench_id) GROUP BY ov.bench_id)
          SELECT bc.bench_id, bc.n_bench_sh,
                 CAST(coalesce(pr.n_candidates, 0) AS BIGINT) AS n_candidates,
                 coalesce(pr.max_overlap, 0.0) AS max_overlap,
                 CAST(coalesce(pr.n_contaminated, 0) AS BIGINT) AS n_contaminated
          FROM bc LEFT JOIN pr USING (bench_id)""",

    "q64_bm25" -> bm25TopSql(10),

    "q157_hybrid_rrf" -> {
      val cos = VectorOps.cosineSql("q.q_emb", "c.c_emb")
      s"""WITH sp AS (SELECT doc_id, rank AS rank_sparse
                      FROM (${bm25TopSql(50)})),
          sims AS (SELECT c.vec_id AS doc_id, $cos AS sim
                   FROM (SELECT vec_id, embedding AS c_emb
                         FROM embeddings) c CROSS JOIN
                        (SELECT embedding AS q_emb FROM embeddings
                         WHERE vec_id = 0) q
                   WHERE c.vec_id <> 0),
          dn AS (SELECT doc_id, rank_dense FROM (
                   SELECT doc_id,
                          CAST(row_number() OVER (ORDER BY sim DESC, doc_id)
                               AS BIGINT) AS rank_dense
                   FROM sims) WHERE rank_dense <= 50),
          j AS (SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id,
                       sp.rank_sparse, dn.rank_dense
                FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id),
          sc2 AS (SELECT doc_id, rank_sparse, rank_dense,
                         coalesce(1.0 / (60.0 + CAST(rank_sparse AS DOUBLE)), 0.0)
                       + coalesce(1.0 / (60.0 + CAST(rank_dense AS DOUBLE)), 0.0)
                           AS rrf
                  FROM j),
          top2 AS (SELECT doc_id, rank_sparse, rank_dense, rrf FROM sc2
                   ORDER BY rrf DESC, doc_id LIMIT 20)
          SELECT doc_id, rank_sparse, rank_dense, rrf,
                 CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT)
                   AS rank
          FROM top2"""
    },

    "q67_vocab_coverage" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
          cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
                  FROM tok GROUP BY token),
          tot AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS total_occ FROM cnt),
          r AS (SELECT token, n_occurrences,
                       CAST(row_number() OVER (ORDER BY n_occurrences DESC, token)
                            AS BIGINT) AS rank,
                       CAST(sum(n_occurrences) OVER (ORDER BY n_occurrences DESC, token
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                FROM cnt)
          SELECT rank, token, n_occurrences,
                 CAST(cum AS DOUBLE) / CAST((SELECT total_occ FROM tot) AS DOUBLE)
                   AS cum_coverage
          FROM r WHERE rank <= 30""",

    "q71_bigram_lm" ->
      s"""WITH docs_e AS (${Tables.documentsWithEdgesSql}),
          t AS (SELECT doc_id, $toksSql AS toks FROM docs_e),
          bg AS (SELECT doc_id,
                        toks[CAST(t2.i AS INTEGER)] AS w1,
                        toks[CAST(t2.i AS INTEGER) + 1] AS w2
                 FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t2(i)),
          c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                  FROM bg GROUP BY w1, w2),
          c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                 FROM bg GROUP BY w1),
          lp AS (SELECT bg.doc_id,
                        CAST(floor(ln(CAST(c12.c12 AS DOUBLE)
                                      / CAST(c1.c1 AS DOUBLE)) * 1e9)
                             AS BIGINT) AS lp
                 FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1))
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(lp) AS DOUBLE) / 1e9 / CAST(count(*) AS DOUBLE)
                   AS avg_logp
          FROM lp GROUP BY doc_id""",

    "q89_span_corruption" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          tok AS (SELECT doc_id, CAST(t2.i AS BIGINT) AS pos,
                         toks[CAST(t2.i AS INTEGER)] AS token,
                         CAST((t2.i - 1) // 3 AS BIGINT) AS blk
                  FROM t, unnest(range(1, len(toks) + 1)) AS t2(i)),
          tok2 AS (SELECT *,
                          (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                               || '|' || CAST(blk AS VARCHAR)), 1, 4)
                             AS BIGINT) % 5 = 0) AS sel
                   FROM tok),
          sb AS (SELECT doc_id, blk, min(pos) AS blk_start,
                        CAST(row_number() OVER (PARTITION BY doc_id
                             ORDER BY blk) - 1 AS BIGINT) AS k
                 FROM tok2 WHERE sel GROUP BY doc_id, blk),
          p AS (SELECT t.doc_id, t.pos, t.token, t.blk, s.k, s.blk_start,
                       CASE WHEN s.k IS NULL THEN t.token
                            WHEN t.pos = s.blk_start
                              THEN '<extra_id_' || CAST(s.k AS VARCHAR) || '>'
                            ELSE NULL END AS in_piece
                FROM tok2 t LEFT JOIN sb s
                  ON s.doc_id = t.doc_id AND s.blk = t.blk)
          SELECT doc_id,
                 coalesce(string_agg(in_piece, ' ' ORDER BY pos)
                   FILTER (WHERE in_piece IS NOT NULL), '') AS masked_input,
                 coalesce(string_agg(
                   CASE WHEN k IS NOT NULL THEN
                     CASE WHEN pos = blk_start
                       THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || token
                       ELSE token END
                   END, ' ' ORDER BY pos)
                   FILTER (WHERE k IS NOT NULL), '') AS target,
                 CAST(count(DISTINCT CASE WHEN k IS NOT NULL THEN blk END)
                      AS BIGINT) AS n_spans
          FROM p GROUP BY doc_id""",

    "q84_negative_sampling" ->
      """WITH q AS (SELECT doc_id AS query_id FROM documents
                    WHERE doc_id % 100 = 0),
          c AS (SELECT q.query_id, d.doc_id,
                       md5(CAST(q.query_id AS VARCHAR) || '|'
                           || CAST(d.doc_id AS VARCHAR)) AS h
                FROM documents d CROSS JOIN q
                WHERE d.doc_id <> q.query_id),
          r AS (SELECT query_id, doc_id, h,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY h, doc_id) AS BIGINT) AS neg_rank
                FROM c)
          SELECT query_id, neg_rank, doc_id AS neg_doc_id, h
          FROM r WHERE neg_rank <= 5""",

    "q145_negative_sampling_direct" ->
      """WITH docs AS (SELECT doc_id FROM documents),
          n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
          idx AS (SELECT doc_id AS neg_doc_id,
                         CAST(row_number() OVER (ORDER BY doc_id) - 1
                              AS BIGINT) AS idx
                  FROM docs),
          qs AS (SELECT doc_id AS query_id FROM docs WHERE doc_id % 100 = 0),
          cand AS (SELECT query_id, CAST(t.j AS BIGINT) AS j,
                          CAST(CAST('0x' || substr(md5(query_id || '|' || t.j),
                                    1, 15) AS BIGINT) % n.n AS BIGINT) AS idx
                   FROM qs, n, unnest(range(1, 9)) AS t(j)),
          joined AS (SELECT c.query_id, c.j, i.neg_doc_id
                     FROM cand c JOIN idx i USING (idx)
                     WHERE i.neg_doc_id <> c.query_id),
          dd AS (SELECT query_id, neg_doc_id, CAST(min(j) AS BIGINT) AS j
                 FROM joined GROUP BY 1, 2),
          r AS (SELECT query_id, neg_doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id
                            ORDER BY j) AS BIGINT) AS neg_rank
                FROM dd)
          SELECT query_id, neg_rank, neg_doc_id
          FROM r WHERE neg_rank <= 5""",

    "q79_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          bg AS (SELECT doc_id,
                        toks[CAST(t2.i AS INTEGER)] AS w1,
                        toks[CAST(t2.i AS INTEGER) + 1] AS w2
                 FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t2(i)),
          pc AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS c
                 FROM bg GROUP BY doc_id, w1, w2)
          SELECT doc_id,
                 CAST(sum(c) AS BIGINT) AS n_2grams,
                 CAST(count(*) AS BIGINT) AS n_distinct,
                 1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
                   AS dup_frac,
                 CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_frac
          FROM pc GROUP BY doc_id""",

    "q78_bigram_heldout" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          bg AS (SELECT doc_id,
                        toks[CAST(t2.i AS INTEGER)] AS w1,
                        toks[CAST(t2.i AS INTEGER) + 1] AS w2
                 FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t2(i)),
          tr AS (SELECT * FROM bg WHERE doc_id % 10 <> 0),
          held AS (SELECT * FROM bg WHERE doc_id % 10 = 0),
          c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                  FROM tr GROUP BY w1, w2),
          c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                 FROM tr GROUP BY w1),
          voc AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM tr),
          lp AS (SELECT held.doc_id,
                        coalesce(c12.c12, 0) AS c12,
                        CAST(floor(ln(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)
                                      / CAST(coalesce(c1.c1, 0) + voc.v AS DOUBLE))
                                   * 1e9) AS BIGINT) AS lp
                 FROM held
                 LEFT JOIN c12 USING (w1, w2)
                 LEFT JOIN c1 USING (w1)
                 CROSS JOIN voc)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(CASE WHEN c12 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
                 CAST(sum(lp) AS DOUBLE) / 1e9 / CAST(count(*) AS DOUBLE)
                   AS avg_logp
          FROM lp GROUP BY doc_id""",

    "q68_token_budget_mix" -> tokenBudgetMixSql(
      s"SELECT doc_id, source, CAST(len($toksSql) AS BIGINT) AS n_tokens" +
        " FROM documents"),

    "q171_bpe_budget_mix" -> tokenBudgetMixSql(
      TextOps.bpeByteCountsSql(nMerges = 8)),

    "q66_boilerplate" ->
      s"""WITH docs_e AS (${Tables.documentsWithEdgesSql}),
          t AS (SELECT doc_id, $toksSql AS toks FROM docs_e),
          sp AS (SELECT doc_id, t2.i AS pos,
                        toks[CAST(t2.i AS INTEGER)] || ' '
                          || toks[CAST(t2.i AS INTEGER) + 1] || ' '
                          || toks[CAST(t2.i AS INTEGER) + 2] AS sh
                 FROM t, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS t2(i)),
          bp AS (SELECT sh FROM (
                   SELECT sh, count(DISTINCT doc_id) AS nd FROM sp GROUP BY sh)
                 WHERE nd >= 5),
          bsp AS (SELECT sp.doc_id, sp.pos FROM sp JOIN bp USING (sh)),
          ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bp_spans
                 FROM bsp GROUP BY doc_id),
          cov AS (SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) AS n_covered
                  FROM (SELECT doc_id, pos + t3.o AS p
                        FROM bsp, unnest(range(0, 3)) AS t3(o))
                  GROUP BY doc_id),
          base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
          SELECT b.doc_id, b.n_tokens,
                 coalesce(ns.n_bp_spans, 0) AS n_bp_spans,
                 coalesce(cov.n_covered, 0) AS n_covered,
                 CASE WHEN b.n_tokens > 0
                      THEN CAST(coalesce(cov.n_covered, 0) AS DOUBLE)
                             / CAST(b.n_tokens AS DOUBLE)
                      ELSE CAST(0 AS DOUBLE) END AS coverage
          FROM base b
          LEFT JOIN ns USING (doc_id)
          LEFT JOIN cov USING (doc_id)""",

    // token bucket = the base-31 polynomial fingerprint mod 1024
    // (mirrors TextFunctions.rollingFingerprint % buckets)
    "q90_dsir_weights" ->
      s"""WITH tk AS (SELECT doc_id,
                 CASE WHEN source IN ('src0','src1','src2','src3')
                      THEN 1 ELSE 0 END AS is_t,
                 unnest($toksSql) AS tok
          FROM documents),
          tb AS (SELECT doc_id, is_t,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length(tok) + 1),
                     i -> CAST(ascii(substr(tok, CAST(i AS INTEGER), 1)) AS BIGINT))),
                   (a, b) -> (a * 31 + b) % 1000000007) % 1024 AS b
          FROM tk),
          m AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r,
                       CAST(sum(is_t) AS BIGINT) AS c_t
                FROM tb GROUP BY b),
          tot AS (SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
                         CAST(sum(c_t) AS BIGINT) AS n_t FROM m),
          lr AS (SELECT doc_id,
                   CAST(floor(ln(CAST(c_t + 1 AS DOUBLE)
                                 / CAST(n_t + 1024 AS DOUBLE)) * 1e9) AS BIGINT)
                 - CAST(floor(ln(CAST(c_r + 1 AS DOUBLE)
                                 / CAST(n_r + 1024 AS DOUBLE)) * 1e9) AS BIGINT) AS lr
                 FROM tb JOIN m USING (b) CROSS JOIN tot)
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(lr) AS DOUBLE) / 1e9 / CAST(count(*) AS DOUBLE)
                   AS avg_logratio,
                 sum(lr) > 0 AS keep
          FROM lr GROUP BY doc_id""",

    "q110_domain_mixture" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
                    FROM documents GROUP BY source),
          w AS (SELECT source, n_docs,
                       CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1e6) AS BIGINT) AS wq
                FROM c),
          t AS (SELECT CAST(sum(wq) AS BIGINT) AS tw FROM w)
          SELECT source, n_docs, wq,
                 CAST(wq * 1000000 // tw AS BIGINT) AS share_ppm
          FROM w CROSS JOIN t""",

    "q134_temperature_mix" ->
      """WITH d AS (SELECT doc_id, source,
                CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok,
                CAST('0x' || substr(md5('tm|' || CAST(doc_id AS VARCHAR)), 1, 6)
                     AS BIGINT) % 1000000 AS bucket_ppm
           FROM documents),
          w AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tok_s,
                       CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1e6)
                            AS BIGINT) AS wq
                FROM d GROUP BY source),
          m AS (SELECT CAST(max(wq) AS BIGINT) AS wmax FROM w),
          r AS (SELECT source, tok_s,
                       CAST(wq * 1000000 // wmax AS BIGINT) AS rate_ppm
                FROM w CROSS JOIN m)
          SELECT d.doc_id, d.source, d.n_tok, r.rate_ppm,
                 d.bucket_ppm < r.rate_ppm AS sampled
          FROM d JOIN r ON r.source = d.source""",

    "q91_domain_cap" ->
      """WITH d AS (SELECT source, doc_id,
                 CAST('0x' || substr(md5('cap|' || CAST(doc_id AS VARCHAR)), 1, 8)
                      AS BIGINT) AS hv
          FROM documents),
          r AS (SELECT source, doc_id,
                 CAST(row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
                      AS BIGINT) AS rank
                FROM d)
          SELECT source, doc_id, rank FROM r WHERE rank <= 10""",

    "q92_dup_spans" ->
      s"""WITH docs_e AS (${Tables.documentsWithEdgesSql}),
          t AS (SELECT doc_id, $toksSql AS toks FROM docs_e),
          sp AS (SELECT doc_id, CAST(t2.i AS BIGINT) AS pos,
                        toks[CAST(t2.i AS INTEGER)] || ' '
                          || toks[CAST(t2.i AS INTEGER) + 1] || ' '
                          || toks[CAST(t2.i AS INTEGER) + 2] AS sh
                 FROM t, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS t2(i)),
          dup AS (SELECT sh FROM (
                    SELECT sh, count(DISTINCT doc_id) AS nd FROM sp GROUP BY sh)
                  WHERE nd >= 2),
          h AS (SELECT doc_id, pos FROM sp JOIN dup USING (sh)),
          g AS (SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER
                              (PARTITION BY doc_id ORDER BY pos) <= 3
                            THEN 0 ELSE 1 END AS brk
                FROM h),
          i AS (SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS grp
                FROM g)
          SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                 CAST(max(pos) + 2 AS BIGINT) AS span_end,
                 CAST(max(pos) + 2 - min(pos) + 1 AS BIGINT) AS span_tokens,
                 CAST(count(*) AS BIGINT) AS n_grams
          FROM i GROUP BY doc_id, grp""",

    "q100_dup_strip" ->
      s"""WITH docs_e AS (${Tables.documentsWithEdgesSql}),
          t AS (SELECT doc_id, $toksSql AS toks FROM docs_e),
          sp AS (SELECT doc_id, CAST(t2.i AS BIGINT) AS pos,
                        toks[CAST(t2.i AS INTEGER)] || ' '
                          || toks[CAST(t2.i AS INTEGER) + 1] || ' '
                          || toks[CAST(t2.i AS INTEGER) + 2] AS sh
                 FROM t, unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS t2(i)),
          dup AS (SELECT sh FROM (
                    SELECT sh, count(DISTINCT doc_id) AS nd FROM sp GROUP BY sh)
                  WHERE nd >= 2),
          cov AS (SELECT DISTINCT doc_id, pos + t3.o AS p
                  FROM sp JOIN dup USING (sh), unnest(range(0, 3)) AS t3(o)),
          tok AS (SELECT doc_id, CAST(t2.i AS BIGINT) AS p,
                         toks[CAST(t2.i AS INTEGER)] AS token
                  FROM t, unnest(range(1, len(toks) + 1)) AS t2(i)),
          kept AS (SELECT tok.doc_id,
                          string_agg(token, ' ' ORDER BY p) AS clean_text,
                          CAST(count(*) AS BIGINT) AS n_kept
                   FROM tok ANTI JOIN cov USING (doc_id, p)
                   GROUP BY tok.doc_id),
          base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
          SELECT b.doc_id, coalesce(k.clean_text, '') AS clean_text,
                 b.n_tokens,
                 b.n_tokens - coalesce(k.n_kept, 0) AS n_removed
          FROM base b LEFT JOIN kept k USING (doc_id)""",

    "q93_logreg_quality" -> {
      // unrolled 2-round full-batch GD; every expression mirrors the
      // LogReg.train plan shape exactly (sigmoid 1e-9-quantized, per-row
      // gradient terms floor-quantized to 1e-12 longs, driver-double
      // update replayed as `w - 0.5*(g/1e12/n)`)
      def z(ws: Seq[String]) =
        ws.zipWithIndex.map { case (w, j) => s"$w * x$j" }.mkString(" + ")
      def p(ws: Seq[String]) =
        s"""CAST(CAST(floor(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
           + exp(-(${z(ws)}))) * 1e9) AS BIGINT) AS DOUBLE) / 1e9"""
      def grads(ws: Seq[String]) = (0 until 4).map(j =>
        s"""sum(CAST(floor((${p(ws)} - y) * x$j * 1e12) AS BIGINT)) AS g$j""")
        .mkString(",\n                 ")
      val w0 = Seq.fill(4)("CAST(0 AS DOUBLE)")
      val w1 = (0 until 4).map(j => s"w1_$j")
      val upd1 = (0 until 4).map(j =>
        s"""CAST(0 AS DOUBLE) - CAST(0.5 AS DOUBLE)
            * (CAST(g$j AS DOUBLE) / 1e12 / CAST(n AS DOUBLE)) AS w1_$j""")
        .mkString(",\n                 ")
      val upd2 = (0 until 4).map(j =>
        s"""w1.w1_$j - CAST(0.5 AS DOUBLE)
            * (CAST(g2.g$j AS DOUBLE) / 1e12 / CAST(w1.n AS DOUBLE)) AS w2_$j""")
        .mkString(",\n                 ")
      val out = ((0 until 4).map(j =>
        s"""SELECT CAST(1 AS BIGINT) AS round, CAST($j AS BIGINT) AS j,
            w1_$j AS w FROM w1""") ++
        (0 until 4).map(j =>
          s"""SELECT CAST(2 AS BIGINT) AS round, CAST($j AS BIGINT) AS j,
              w2_$j AS w FROM w2""")).mkString("\n          UNION ALL ")
      s"""WITH f AS (SELECT
                 CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS DOUBLE) AS y,
                 CAST(1 AS DOUBLE) AS x0,
                 CAST(len(toks) AS DOUBLE) / 100.0 AS x1,
                 CAST(len(list_distinct(toks)) AS DOUBLE)
                   / CAST(len(toks) AS DOUBLE) AS x2,
                 CAST(n_chars AS DOUBLE) / 1000.0 AS x3
               FROM (SELECT $toksSql AS toks, lang, n_chars FROM documents)),
          g1 AS (SELECT count(*) AS n,
                 ${grads(w0)}
                 FROM f),
          w1 AS (SELECT n,
                 $upd1
                 FROM g1),
          g2 AS (SELECT
                 ${grads(w1)}
                 FROM f CROSS JOIN w1),
          w2 AS (SELECT
                 $upd2
                 FROM g2 CROSS JOIN w1)
          $out"""
    },

    // q93's unrolled GD chain, then every doc scored against the final
    // weights (w2 is one row, cross-joined = the broadcast literal the
    // engine inlines)
    "q140_quality_inference" ->
      s"""WITH sc AS ($logRegScoredSql)
          SELECT doc_id, quality, quality >= 0.4765 AS keep FROM sc""",

    // The data card composes the factored chains verbatim:
    // sentencesChainSql (q156/q188), minhashPairsSql + dupClosureSql
    // (q44/q183), logRegScoredSql (q140) — the inner chains keep
    // their own CTE scopes, the outer joins are per-source.
    "q190_corpus_card" -> corpusCardOracleSql,

    // The MAINTAINED card computes the IDENTICAL relation from
    // CorpusCard's lake state (built over docs < 400, one refresh
    // folding the rest) — one oracle text for both paths, so
    // incremental ≡ from-scratch is hash-pinned per run.
    "q199_corpus_card_stored" -> corpusCardOracleSql,

    // Packing tier: running-sum tape per source, inclusive
    // generate_series over the overlapped sequence range — the same
    // integer arithmetic as SequencePack.chunk, zero floats anywhere.
    "q213_sequence_pack" ->
      s"""WITH $packTapeSql
          SELECT source, doc_id, CAST(g.s AS BIGINT) AS seq_idx,
                 greatest(tok_begin - g.s * 128, 0) AS seg_begin,
                 least(tok_end - g.s * 128, 128) AS seg_end,
                 tok_begin, tok_end
          FROM sp, unnest(generate_series(tok_begin // 128,
                                          (tok_end - 1) // 128)) AS g(s)""",

    "q214_packing_stats" ->
      s"""WITH $packTapeSql,
          seg AS (SELECT source, doc_id, g.s AS seq_idx, tok_end
                  FROM sp, unnest(generate_series(tok_begin // 128,
                    (tok_end - 1) // 128)) AS g(s))
          SELECT source,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_segments,
                 CAST(max(seq_idx) + 1 AS BIGINT) AS n_seqs,
                 CAST(max(tok_end) AS BIGINT) AS total_tokens,
                 CAST(max(tok_end) * 1000000 //
                      ((max(seq_idx) + 1) * 128) AS BIGINT) AS fill_ppm,
                 CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
                   AS n_crossings
          FROM seg GROUP BY source""",

    "q215_shard_manifest" ->
      s"""WITH $packTapeSql,
          seg AS (SELECT source, doc_id, g.s AS seq_idx,
                         greatest(tok_begin - g.s * 128, 0) AS seg_begin,
                         least(tok_end - g.s * 128, 128) AS seg_end
                  FROM sp, unnest(generate_series(tok_begin // 128,
                    (tok_end - 1) // 128)) AS g(s))
          SELECT source, CAST(seq_idx // 16 AS BIGINT) AS shard_idx,
                 CAST(count(DISTINCT seq_idx) AS BIGINT) AS n_seqs,
                 CAST(count(*) AS BIGINT) AS n_segments,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(sum(seg_end - seg_begin) AS BIGINT) AS n_tokens,
                 CAST(min(seq_idx) AS BIGINT) AS first_seq,
                 CAST(max(seq_idx) AS BIGINT) AS last_seq
          FROM seg GROUP BY source, seq_idx // 16""",

    // Incremental ≡ from-scratch on an append-only tape: the batch's
    // segments are exactly the full-tape segments of batch docs.
    "q216_sequence_pack_incremental" ->
      s"""WITH $packTapeSql
          SELECT source, doc_id, CAST(g.s AS BIGINT) AS seq_idx,
                 greatest(tok_begin - g.s * 128, 0) AS seg_begin,
                 least(tok_end - g.s * 128, 128) AS seg_end,
                 tok_begin, tok_end
          FROM sp, unnest(generate_series(tok_begin // 128,
                                          (tok_end - 1) // 128)) AS g(s)
          WHERE doc_id >= 400""",

    // BPE-fed packing: the q170/q171 byte-BPE counts chain spliced as
    // the tape's token source, then the q215 manifest arithmetic.
    "q217_bpe_packed_export" ->
      s"""WITH bc AS (${graft.queries.TextOps.bpeByteCountsSql(nMerges = 8)}),
          c AS (SELECT source, doc_id, n_tokens AS n_tok,
                  CAST(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS tok_end
                FROM bc),
          sp AS (SELECT source, doc_id, tok_end - n_tok AS tok_begin, tok_end
                 FROM c WHERE n_tok > 0),
          seg AS (SELECT source, doc_id, g.s AS seq_idx,
                         greatest(tok_begin - g.s * 512, 0) AS seg_begin,
                         least(tok_end - g.s * 512, 512) AS seg_end
                  FROM sp, unnest(generate_series(tok_begin // 512,
                    (tok_end - 1) // 512)) AS g(s))
          SELECT source, CAST(seq_idx // 16 AS BIGINT) AS shard_idx,
                 CAST(count(DISTINCT seq_idx) AS BIGINT) AS n_seqs,
                 CAST(count(*) AS BIGINT) AS n_segments,
                 CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
                 CAST(sum(seg_end - seg_begin) AS BIGINT) AS n_tokens,
                 CAST(min(seq_idx) AS BIGINT) AS first_seq,
                 CAST(max(seq_idx) AS BIGINT) AS last_seq
          FROM seg GROUP BY source, seq_idx // 16"""
  ) ++ oraclesTail

  /** q213–q215's shared tape CTE: token counts over the edge corpus,
    * per-source running sum, zero-token docs dropped from the tape. */
  private lazy val packTapeSql: String =
    s"""docs_e AS (${graft.Tables.documentsWithEdgesSql}),
        t AS (SELECT source, doc_id,
                CAST(len(list_filter(string_split_regex(
                  coalesce(text, ''), '\\s+'), x -> x <> ''))
                  AS BIGINT) AS n_tok
              FROM docs_e),
        c AS (SELECT source, doc_id, n_tok,
                CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS UNBOUNDED PRECEDING)
                     AS BIGINT) AS tok_end
              FROM t),
        sp AS (SELECT source, doc_id, tok_end - n_tok AS tok_begin, tok_end
               FROM c WHERE n_tok > 0)"""

  private lazy val corpusCardOracleSql: String =
      s"""WITH RECURSIVE ${graft.queries.TextOps.sentencesChainSql},
          sp AS (SELECT doc_id, sent_text,
                   doc_id * 1000000 + sent_idx AS pk FROM f),
          kk AS (SELECT sent_text, min(pk) AS keep_pk FROM sp
                 GROUP BY sent_text),
          sd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents,
                   CAST(sum(CASE WHEN sp.pk <> kk.keep_pk THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_struck
                 FROM sp JOIN kk ON sp.sent_text = kk.sent_text
                 GROUP BY doc_id),
          pairs AS (${graft.queries.TextOps.minhashPairsSql}),
          ${graft.queries.TextOps.dupClosureSql},
          lab AS (SELECT d.doc_id, d.source, d.n_chars,
                    coalesce(cl.cluster_id, d.doc_id) AS cluster_id
                  FROM docs_e d LEFT JOIN cl ON d.doc_id = cl.doc_id),
          rk AS (SELECT doc_id, source,
                   row_number() OVER (PARTITION BY cluster_id
                     ORDER BY n_chars DESC, doc_id) AS rn
                 FROM lab),
          dup AS (SELECT source,
                    CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                      AS dup_docs
                  FROM rk GROUP BY source),
          sc AS ($logRegScoredSql),
          tok AS (SELECT doc_id, source, n_chars,
                    CAST(len($toksSql) AS BIGINT) AS n_tokens
                  FROM docs_e),
          base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
                     CAST(sum(n_tokens) AS BIGINT) AS tokens_total
                   FROM tok GROUP BY source),
          sda AS (SELECT t.source,
                    CAST(sum(sd.n_sents) AS BIGINT) AS n_sents,
                    CAST(sum(sd.n_struck) AS BIGINT) AS n_struck
                  FROM tok t JOIN sd ON t.doc_id = sd.doc_id
                  GROUP BY t.source),
          qual AS (SELECT t.source, CAST(count(*) AS BIGINT) AS n_scored,
                     CAST(sum(CAST(floor(sc.quality * 1e9 + 0.5) AS BIGINT))
                          AS BIGINT) AS sum_q9
                   FROM tok t JOIN sc ON t.doc_id = sc.doc_id
                   GROUP BY t.source)
          SELECT b.source, b.n_docs, b.n_chars_total, b.tokens_total,
                 coalesce(s.n_sents, 0) AS n_sents,
                 coalesce(s.n_struck, 0) AS n_struck,
                 CASE WHEN coalesce(s.n_sents, 0) > 0
                      THEN s.n_struck * 1000000 // s.n_sents
                      ELSE 0 END AS sent_dup_ppm,
                 coalesce(d2.dup_docs, 0) AS dup_docs,
                 coalesce(d2.dup_docs, 0) * 1000000 // b.n_docs
                   AS dup_doc_ppm,
                 coalesce(q.n_scored, 0) AS n_scored,
                 CASE WHEN coalesce(q.n_scored, 0) > 0
                      THEN q.sum_q9 // q.n_scored END AS mean_quality_e9
          FROM base b
          LEFT JOIN sda s ON b.source = s.source
          LEFT JOIN dup d2 ON b.source = d2.source
          LEFT JOIN qual q ON b.source = q.source"""

  private lazy val oraclesTail: Map[String, String] = Map(
    // Mirrors PreferencePairs.mine over the shared logRegScoredSql
    // chain: md5 shard buckets, (q9 DESC, doc_id) rank, the
    // best↔worst rank-symmetric match with the odd-n middle excluded
    // (b.rb·2 ≤ n), margin inclusive.
    "q181_preference_pairs" ->
      s"""WITH sc AS ($logRegScoredSql),
          d AS (SELECT doc_id, source FROM documents),
          j AS (SELECT sc.doc_id, d.source,
                  CAST(floor(quality * 1e9 + 0.5) AS BIGINT) AS q9,
                  CAST('0x' || substr(md5('pp|' || CAST(sc.doc_id AS VARCHAR)),
                       1, 8) AS BIGINT) % 8 AS shard
                FROM sc JOIN d USING (doc_id)),
          r AS (SELECT *,
                  row_number() OVER (PARTITION BY source, shard
                                     ORDER BY q9 DESC, doc_id) AS rb,
                  count(*) OVER (PARTITION BY source, shard) AS n
                FROM j)
          SELECT b.source, CAST(b.shard AS BIGINT) AS shard,
                 CAST(b.rb AS BIGINT) AS pair_rank,
                 b.doc_id AS chosen_id, w.doc_id AS rejected_id,
                 b.q9 - w.q9 AS gap_q9
          FROM r b JOIN r w
            ON b.source = w.source AND b.shard = w.shard
           AND w.rb = b.n - b.rb + 1
          WHERE b.rb * 2 <= b.n AND b.q9 - w.q9 >= 2000000""",

    "q165_calibration" ->
      s"""WITH sc AS ($logRegScoredSql),
          b AS (SELECT CAST(floor(quality * 100) AS BIGINT) AS bin,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_pos,
                       CAST(sum(CAST(floor(quality * 1e9) AS BIGINT))
                            AS BIGINT) AS sum_q_e9
                FROM sc GROUP BY 1)
          SELECT bin, n, n_pos,
                 n_pos * 1000000 // n AS pos_ppm,
                 sum_q_e9 // n AS mean_quality_e9
          FROM b""",

    "q141_perplexity_buckets" ->
      s"""WITH docs_e AS (${Tables.documentsWithEdgesSql}),
          t AS (SELECT doc_id, $toksSql AS toks FROM docs_e),
          bg AS (SELECT doc_id,
                        toks[CAST(t2.i AS INTEGER)] AS w1,
                        toks[CAST(t2.i AS INTEGER) + 1] AS w2
                 FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS t2(i)),
          c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
                  FROM bg GROUP BY w1, w2),
          c1 AS (SELECT w1, CAST(count(*) AS BIGINT) AS c1
                 FROM bg GROUP BY w1),
          lp AS (SELECT bg.doc_id,
                        CAST(floor(ln(CAST(c12.c12 AS DOUBLE)
                                      / CAST(c1.c1 AS DOUBLE)) * 1e9)
                             AS BIGINT) AS lp
                 FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
          sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                        CAST(sum(lp) AS BIGINT) AS sum_lp
                 FROM lp GROUP BY doc_id),
          s2 AS (SELECT doc_id, n_bigrams,
                        (-sum_lp) // n_bigrams AS mean_q,
                        CAST(sum_lp AS DOUBLE) / 1e9
                          / CAST(n_bigrams AS DOUBLE) AS avg_logp
                 FROM sc),
          vc AS (SELECT mean_q, CAST(count(*) AS BIGINT) AS c
                 FROM s2 GROUP BY 1),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM vc),
          tiled AS (SELECT mean_q,
                           (CAST(coalesce(sum(c) OVER (ORDER BY mean_q
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS BIGINT) * 3) // t
                             AS tile
                    FROM vc CROSS JOIN tot),
          cuts AS (SELECT min(CASE WHEN tile >= 1 THEN mean_q END) AS cut_mid,
                          min(CASE WHEN tile >= 2 THEN mean_q END) AS cut_tail
                   FROM tiled)
          SELECT doc_id, n_bigrams, avg_logp,
                 CASE WHEN mean_q >=
                        coalesce(cut_tail, 9223372036854775807) THEN 'tail'
                      WHEN mean_q >=
                        coalesce(cut_mid, 9223372036854775807) THEN 'middle'
                      ELSE 'head' END AS ppl_bucket
          FROM s2 CROSS JOIN cuts"""
  )
}
