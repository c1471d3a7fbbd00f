package graft.queries

import graft.Tables
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity-search operators over the `embeddings` table
  * (`vec_id BIGINT, embedding ARRAY<FLOAT>, label INT`). Cosine
  * arithmetic is a sequential left fold in both engines (see
  * [[graft.functions.VectorFunctions]]) so doubles match bitwise.
  */
object VectorOps {

  /** DuckDB fragment: sequential-fold dot product of `a`·`b`. */
  private[queries] def dotSql(a: String, b: String): String =
    s"""list_reduce(
          list_prepend(0.0, list_transform(range(1, len($a) + 1),
            i -> CAST($a[CAST(i AS INTEGER)] AS DOUBLE)
                 * CAST($b[CAST(i AS INTEGER)] AS DOUBLE))),
          (x, y) -> x + y)"""

  private[queries] def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"


  /** q150/q151's corpus: `embeddings` plus TRAIN-side paraphrase rows
    * derived from bench vectors — two bit-identical copies (vec_id 0/1
    * re-keyed to 9100000/9100001) and one 0.25-nudged copy (vec_id 2 →
    * 9100002, first component +0.25 in double, cast back to float32 —
    * bit-equal in both engines because float add IS round(exact sum)).
    * Without them the synthetic corpus has ZERO bench–train pairs at
    * cos ≥ 0.8 and the production recall row measures nothing; with
    * them the τ-0.8 truth set is non-empty by construction, which is
    * what "measured, not guessed" requires. */
  private def decontamProdCorpus(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val e = Tables.load(s, d, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val ident = e.filter(col("id") < 2L)
      .select((col("id") + 9100000L).as("id"), col("embedding"))
    val nudged = e.filter(col("id") === 2L)
      .select((col("id") + 9100000L).as("id"),
        concat(
          array((element_at(col("embedding"), 1).cast("double") + 0.25d)
            .cast("float")),
          slice(col("embedding"), 2, 63)).as("embedding"))
    e.unionByName(ident).unionByName(nudged)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Johnson-Lindenstrauss random projection 64 → 16 dims: each output
    // coordinate is the dot with a deterministic md5-derived hyperplane
    // (the q28 LSH planes, used as a dense projection matrix) — the
    // dimensionality-reduction pass that shrinks an embedding table 4×
    // before clustering/ANN while approximately preserving distances.
    // Map-only: 16 sequential-fold dots per row inside one projection,
    // no shuffle at all; outputs quantized to the 1e-9 long grid so the
    // fold order is pinned and any engine hash-matches.
    "q115_jl_projection" -> ((s, d) => {
      import graft.functions.VectorFunctions.{dot, hyperplane}
      val cols = (0 until 16).map(j =>
        floor(dot(col("embedding"), hyperplane(j, 64)) * lit(1e9))
          .cast("long").as(s"p$j"))
      Tables.load(s, d, "embeddings")
        .select(col("vec_id") +: cols: _*)
    }),

    // Per-dimension embedding statistics — the drift/quality monitor a
    // lake runs after every ingest batch: ONE map-side-combinable
    // aggregate over the exploded (pos, value) rows, no shuffle beyond
    // the 64-group hash agg. Moments accumulate on the 1e-9-quantized
    // long grid (order-free, engine-exact); float→double casts and
    // double products are IEEE-exact, so min/max/mean hash-match too.
    "q112_embedding_stats" -> ((s, d) =>
      Tables.load(s, d, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("pos0", "xf")))
        .select((col("pos0") + 1).cast("long").as("pos"),
          col("xf").cast("double").as("x"))
        .groupBy(col("pos"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("x") * 1e9).cast("long")).as("sum_q"),
          sum(floor(col("x") * col("x") * 1e9).cast("long")).as("sumsq_q"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"))
        .select(col("pos"), col("n"), col("sum_q"), col("sumsq_q"),
          col("min_x"), col("max_x"),
          (col("sum_q").cast("double") / lit(1e9) / col("n").cast("double"))
            .as("mean"))),
    // Brute-force exact cosine top-k: 5 query vectors vs the whole corpus.
    "q26_cosine_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.topK(e.filter(col("id") < 5L), e, k = 10)
    }),

    // k-NN majority-vote classification: test = vec_id < 50, train = rest.
    "q27_knn_classify" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"), col("label"))
      Similarity.knnClassify(
        e.filter(col("id") < 50L), e.filter(col("id") >= 50L), k = 5)
    }),

    // Random-hyperplane LSH bucket assignment (map-only ANN scale path).
    "q28_ann_buckets" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.hyperplaneBuckets(e, nPlanes = 4, dim = 64)
    }),

    // LSH-bucketed ANN top-k: same-bucket candidates only (the approximate
    // search path over q28's bucket assignment).
    "q48_ann_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.annTopK(e.filter(col("id") < 5L), e, k = 5,
        nPlanes = 2, dim = 64)
    }),

    // ANN quality measurement: recall@5 of the LSH-bucketed search vs
    // the exact top-5, per query — approximate paths ship with their
    // recall measured, not guessed.
    "q50_ann_recall" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val q = e.filter(col("id") < 5L)
      val exact = Similarity.topK(q, e, k = 5)
        .select(col("query_id"), col("vec_id"))
      val ann = Similarity.annTopK(q, e, k = 5, nPlanes = 2, dim = 64)
        .select(col("query_id"), col("vec_id"))
      exact.join(ann, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
                (col("n_hits").cast("double") / 5.0).as("recall_at_5"))
    }),

    // Multiprobe ANN quality: recall@5 with 4 planes + Hamming-1 probes
    // (5/16 of buckets probed ≈ q50's 1/4 candidate fraction, so the
    // recall gain over q50 comes from probing the RIGHT buckets, not
    // from scanning more of the corpus).
    "q55_ann_multiprobe" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val q = e.filter(col("id") < 5L)
      val exact = Similarity.topK(q, e, k = 5)
        .select(col("query_id"), col("vec_id"))
      val ann = Similarity.annTopK(q, e, k = 5, nPlanes = 4, dim = 64,
          probeHamming1 = true)
        .select(col("query_id"), col("vec_id"))
      exact.join(ann, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
                (col("n_hits").cast("double") / 5.0).as("recall_at_5"))
    }),

    // IVF cell assignment: coarse centroids = embeddings of vec_id < 8
    // (stand-in for offline-trained centroids), one broadcast pass.
    "q38_ivf_assign" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val centroids = Tables.load(s, d, "embeddings")
        .filter(col("vec_id") < 8L)
        .select(col("vec_id").as("cid"), col("embedding"))
      Similarity.ivfAssign(e, centroids)
    }),

    // IVF ANN: probe the 2 nearest of 8 cells per query, search only
    // those cells' members.
    "q39_ivf_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val centroids = Tables.load(s, d, "embeddings")
        .filter(col("vec_id") < 8L)
        .select(col("vec_id").as("cid"), col("embedding"))
      Similarity.ivfTopK(e.filter(col("id") < 5L), e, centroids,
        nprobe = 2, k = 5)
    }),

    // Embedding-cosine near-dup pairs: corpus MEAN-CENTERED (the raw
    // space is all-positive — median pairwise cosine 0.94, where no
    // threshold and no hyperplane separates anything), then
    // LSH-bucketed with Hamming-1 multiprobe (8 planes = 256 buckets
    // bound the candidate join, the 1-bit-flip probes keep recall for
    // the near-identical pairs dedup exists for), exact-cosine verify.
    // The 10× stress run forced both fixes: the old 2-plane uncentered
    // form emitted 90.7M pairs at sf1 — 45% of ALL pairs — and its
    // 4-bucket join was n²/4 by construction.
    "q35_embedding_neardup" -> ((s, d) => {
      val e = Tables.embeddingsWithEdges(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      graft.operators.Dedup.embeddingNearDupProbed(
        graft.operators.Dedup.centerEmbeddings(e, 64),
        threshold = 0.3, nPlanes = 8, dim = 64)
    }),

    // IVF health / retrain-trigger monitor: per-cell member counts,
    // occupancy share, and mean squared distance to the trained
    // centroid — rising mean distance or a hot cell is the signal
    // every IVF deployment retrains on. Map-only assignment
    // (KMeans.assign: centroid array literal, no shuffle), one
    // 8-group aggregate; distances quantized to the 1e9 long grid and
    // mean'd with integer div, so the monitor is engine-exact.
    "q136_ivf_drift" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val trained = graft.operators.KMeans.train(e, k = 8, iters = 2)
        .select(col("cid"), col("centroid"))
      val tot = e.agg(count(lit(1)).as("n_total"))
      graft.operators.KMeans.assign(e, trained)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          sum(floor(col("sqdist") * 1e9).cast("decimal(38,0)"))
            .cast("long").as("sumd_q"))
        .crossJoin(broadcast(tot))
        .select(col("cid"), col("n_members"),
          expr("sumd_q div n_members").as("mean_sqd_q"),
          expr("n_members * 10000L div n_total").as("share_x10000"))
    }),

    // SemDeDup (Abbas et al. 2023): k-means cells (q59's training) →
    // within-cell exact cosine → drop any vector ≥ τ-similar to a
    // smaller id in its cell. The cluster-then-prune recipe that makes
    // semantic dedup tractable at corpus scale: pair space is Σ|cell|²,
    // never n². Dedup scope vec_id < 800 (training uses the full
    // table, like a production run training on a sample window).
    "q133_semantic_dedup" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val cent = graft.operators.KMeans.train(e, k = 8, iters = 2)
        .select(col("cid"), col("centroid").as("embedding"))
      graft.operators.Dedup.semanticDedup(
        e.filter(col("id") < 800L), cent, tau = 0.4)
    }),

    // Embedding-dup canonicalization — q44's shape on the vector side:
    // centered LSH-probed cosine pairs → connected components →
    // (vec_id, cluster_id) with the min id canonical. What an
    // embedding-level dedup pipeline actually drops rows by. On a
    // corpus with heavy EXACT duplication, Dedup.embeddingDupClusters
    // computes the identical result over one representative per
    // identity group (spec-pinned equal); this corpus has no exact
    // dups, so the direct plan skips the collapse's two extra shuffles.
    "q126_embedding_dup_clusters" -> ((s, d) => {
      val e = Tables.embeddingsWithEdges(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val pairs = graft.operators.Dedup
        .embeddingNearDupProbed(
          graft.operators.Dedup.centerEmbeddings(e, 64),
          threshold = 0.3, nPlanes = 8, dim = 64)
        .select(col("id_a"), col("id_b"))
      graft.operators.Dedup.connectedComponents(pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    }),

    // The exact-identity-collapse form of q126: group bit-identical
    // vectors, run the probed pair join + component closure over one
    // representative per group, expand labels back. Value-equal to
    // q126 BY THE QUOTIENT-GRAPH ARGUMENT (Dedup.embeddingDupClusters
    // scaladoc) — the driver verifies that equality against q126's
    // from-scratch SQL. On a corpus with heavy exact duplication this
    // is the only shape that survives (the member-level pair space is
    // Θ(dup²)); this corpus has no exact dups, so here it degenerates
    // gracefully to the direct plan plus one groupBy.
    "q142_embedding_dedup_collapsed" -> ((s, d) => {
      val e = Tables.embeddingsWithEdges(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      graft.operators.Dedup
        .embeddingDupClusters(e, threshold = 0.3, nPlanes = 8, dim = 64)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    }),

    // Recall measurement for the centered probed family (the q139
    // discipline on the vector side): exact ground truth from a
    // BROADCAST SAMPLE (ids < 200) against the whole corpus — linear
    // in corpus, never the n² an unrestricted exact pair set would be
    // (cosine has no shared-support trick like q139's shingles) —
    // versus the probed pairs touching the sample. Approx pairs are
    // exact-verified, so precision is 1 by construction; recall is
    // the Hamming-≤1 collision probability the family trades on.
    "q143_embedding_recall" -> ((s, d) => {
      val e = Tables.embeddingsWithEdges(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val D = graft.operators.Dedup
      val centered = D.centerEmbeddings(e, 64)
        .localCheckpoint(eager = true) // feeds ground truth AND the probed join
      val sample = centered.filter(col("id") < 200L)
        .select(col("id").as("s_id"), col("embedding").as("s_emb"))
      import graft.functions.VectorFunctions.{dot, norm}
      val denom = norm(col("embedding")) * norm(col("s_emb"))
      val truth = centered.crossJoin(broadcast(sample))
        .filter(col("id") =!= col("s_id"))
        .select(least(col("id"), col("s_id")).as("id_a"),
          greatest(col("id"), col("s_id")).as("id_b"),
          when(denom === 0.0, lit(0.0))
            .otherwise(dot(col("embedding"), col("s_emb")) / denom).as("sim"))
        .filter(col("sim") >= 0.3)
        .select(col("id_a"), col("id_b")).distinct()
      val ap = D.embeddingNearDupProbed(centered,
          threshold = 0.3, nPlanes = 8, dim = 64)
        .filter(col("id_a") < 200L || col("id_b") < 200L)
        .select(col("id_a"), col("id_b"))
      val ne = truth.agg(count(lit(1)).as("n_exact"))
      val na = ap.agg(count(lit(1)).as("n_approx"))
      val nh = truth.join(ap, Seq("id_a", "id_b"))
        .agg(count(lit(1)).as("n_caught"))
      ne.crossJoin(na).crossJoin(nh)
        .select(col("n_exact"), col("n_approx"), col("n_caught"),
          when(col("n_exact") === 0L, lit(0L))
            .otherwise(expr("n_caught * 1000000L div n_exact"))
            .as("recall_ppm"))
    }),

    // q127's shape on the vector side: stored corpus clusters
    // (vec_id ≥ 200) + one batch folded in through the cross bucket
    // join and mergeClusters. Shares q126's from-scratch oracle —
    // see the oracle comment for why the pair sets union exactly.
    "q129_incremental_embedding_clusters" -> ((s, d) => {
      val e = Tables.embeddingsWithEdges(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val D = graft.operators.Dedup
      // The stored corpus cluster state is SIMULATED state a real
      // incremental deployment reads from the lake — materialized
      // once (SimulatedStore) so the bench's min-of-N times the
      // increment, not a corpus rebuild (VERDICT r6 #3). The timed
      // region: center (map-only), code the two sides, batch-probed
      // cross join + batch-internal join, merge touched clusters.
      // Pair-set identity: corpus-internal (in the stored state) ∪
      // cross (Hamming-≤1 via the probed across join) ∪
      // batch-internal IS the full probed pair graph — the hyperplane
      // family is data-independent, so codes computed per side equal
      // codes computed jointly. The centering mean stays the full-
      // table one the oracle recomputes; a production path freezes
      // the corpus mean at index build (the IVF frozen-quantizer
      // discipline).
      val centered = D.centerEmbeddings(e, 64)
        .localCheckpoint(eager = true) // feeds state, cross, and batch
      val batch = centered.filter(col("id") < 200L)
      val corpus = centered.filter(col("id") >= 200L)
      val stored = SimulatedStore.cached(s, d, "q129_stored_cc_v2") {
        D.connectedComponents(
          D.embeddingNearDupProbed(corpus, threshold = 0.3,
              nPlanes = 8, dim = 64)
            .select(col("id_a"), col("id_b")))
      }
      val cross = D.embeddingNearDupAcrossProbed(batch, corpus,
          threshold = 0.3, nPlanes = 8, dim = 64)
        .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"))
      val internal = D.embeddingNearDupProbed(batch, threshold = 0.3,
          nPlanes = 8, dim = 64)
        .select(col("id_a"), col("id_b"))
      D.mergeClusters(stored, cross.union(internal))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    }),

    // The grp_zero pin: embeddingDupClusters over a literal corpus
    // whose quantized mean is EXACTLY zero (Tables.meanZeroVecRows),
    // the only way centered-zero vectors can exist — the bit-zero
    // identity group {1,2} must be EXCLUDED from the output (its
    // forced sim-0.0 pairs are not edges under threshold 0.3; ADVICE
    // r6's zero-norm-group rule, previously pinned only by a spec),
    // while the bit-identical non-zero groups {5,6}/{7,8} collapse to
    // min-id clusters and the ±near-dup pairs cluster normally. The
    // oracle re-derives everything from the naive member-level pair
    // graph, so the quotient-collapse path is value-pinned on exactly
    // the edge rows the synthetic corpus never contains.
    "q147_embedding_edge_clusters" -> ((s, _) =>
      graft.operators.Dedup.embeddingDupClusters(
          Tables.meanZeroVecs(s).select(col("id"), col("embedding")),
          threshold = 0.3, nPlanes = 8, dim = 64)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))),

    // The full embedding-dedup pipeline at its PRODUCTION operating
    // point: auto-sized planes (q144's knob) AND threshold 0.4 — where
    // "near-duplicate" means near-identical, the pair output is
    // dup-cluster-sized, and the whole clusters job stays linear-ish
    // in the corpus (the 0.3 setting is the research yardstick whose
    // TRUE pair graph on this corpus is dense — see NOTES sf1 sweep).
    "q146_embedding_clusters_production" -> ((s, d) => {
      val e = Tables.embeddingsWithEdges(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      val D = graft.operators.Dedup
      val pairs = D.embeddingNearDupAuto(D.centerEmbeddings(e, 64),
          threshold = 0.4, dim = 64, targetBucket = 64L, minPlanes = 2)
        .select(col("id_a"), col("id_b"))
      D.connectedComponents(pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
    }),

    // q35 with the plane count DERIVED from the corpus size — the knob
    // that keeps the candidate space ~(k+1)·n·targetBucket instead of
    // quadratic once data outgrows a hand-tuned constant (the fixed
    // 8-plane family's sf1 sweep cost is dominated by exactly that
    // growth). k is integer-exact from the count (Dedup.autoPlanes),
    // so the oracle re-derives the same k at ANY scale factor — the
    // driver's sf0.01 check runs at k=3 where q35 runs at 8.
    "q144_embedding_neardup_auto" -> ((s, d) => {
      val e = Tables.embeddingsWithEdges(s, d)
        .select(col("vec_id").as("id"), col("embedding"))
      graft.operators.Dedup.embeddingNearDupAuto(
        graft.operators.Dedup.centerEmbeddings(e, 64),
        threshold = 0.3, dim = 64, targetBucket = 64L, minPlanes = 2)
    }),

    // Semantic decontamination over CENTERED embeddings: training
    // vectors near-cosine-identical to a benchmark embedding (vec_id
    // < 20 plays the benchmark set) — catches paraphrases that share
    // no n-gram with q63's check. The corpus mean is frozen from the
    // TRAIN side (the mean an index build would have stored) and
    // centers both sides, making the 0.3 verdict semantic instead of
    // the uncentered space's bucket coincidence (median background
    // cosine 0.94 — VERDICT r6). OR-of-16-bands × 4 planes: recall
    // 0.93 measured (q121) where AND-probing holds 0.17; benchmark
    // side broadcast, one corpus scan, zero shuffles.
    "q117_semantic_decontam" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      graft.operators.Decontaminate.semanticBanded(
        e.filter(col("id") >= 20L), e.filter(col("id") < 20L),
        threshold = 0.3, bands = 16, planesPerBand = 4, dim = 64)
    }),

    // The AND-family counterpart on the same centered space: one
    // 8-plane code, Hamming-1 multiprobe on the benchmark side. Kept
    // as a first-class query so q121 can MEASURE the band-vs-probe
    // recall gap instead of asserting it.
    "q120_semantic_decontam_mp" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val (t, b) = graft.operators.Decontaminate.centered(
        e.filter(col("id") >= 20L), e.filter(col("id") < 20L), dim = 64)
      graft.operators.Decontaminate.semanticProbed(
        t, b, threshold = 0.3, nPlanes = 8, dim = 64)
    }),

    // LSH decontamination recall, measured not guessed: per benchmark
    // vector, how many of the exact-cosine contamination pairs the
    // banded (q117) and multiprobe (q120) variants each recover. The
    // exact side is a broadcast-bench × one-corpus-scan count — the
    // same shape as q26, not a shuffled pair space.
    // The decontam family at its PRODUCTION operating point: τ = 0.8
    // ("near-identical paraphrase", the threshold a deployed decontam
    // pass actually ships) with the banding RETUNED to it — 12 bands
    // × 5 planes. At τ 0.8 the per-plane collision probability is
    // 1 − arccos(0.8)/π ≈ 0.795, so a 5-plane band catches p⁵ ≈ 0.25
    // of true pairs and 12 OR'd bands ≈ 0.99 — above the 0.3-family's
    // measured 0.93 (q121) — while each band is 2× more selective
    // (2⁵ keys) and the explode is 12/16 the rows: fewer candidates
    // AND more recall, which is exactly what raising τ buys. q151
    // measures it.
    "q150_semantic_decontam_production" -> ((s, d) => {
      val e = decontamProdCorpus(s, d)
      graft.operators.Decontaminate.semanticBanded(
        e.filter(col("id") >= 20L), e.filter(col("id") < 20L),
        threshold = 0.8, bands = 12, planesPerBand = 5, dim = 64)
    }),

    // Recall at the production point, measured not guessed (one
    // summary row, ppm-exact): exact τ-0.8 pair count from the
    // broadcast-bench × corpus-scan (q121's shape), the retuned
    // 12×5 catch count, and the 0.3-tuned 16×4 catch count at the
    // SAME τ — pinning that the retune does not lose recall where it
    // operates. Banded pairs are exact-verified (sim recomputed), so
    // caught ⊆ exact and the ratio IS recall.
    "q151_semantic_decontam_production_recall" -> ((s, d) => {
      import graft.functions.VectorFunctions._
      val D = graft.operators.Decontaminate
      val e = decontamProdCorpus(s, d)
      val train = e.filter(col("id") >= 20L)
      val bench = e.filter(col("id") < 20L)
      // centered arrays checkpointed before the cross join — same
      // Janino 64 KB rationale as q121
      val (tc0, bc0) = D.centered(train, bench, dim = 64)
      val tc = tc0.localCheckpoint(eager = true)
      val bc = bc0.localCheckpoint(eager = true)
      val exact = tc
        .select(col("id").as("train_id"), col("embedding").as("t_emb"),
                norm(col("embedding")).as("t_nrm"))
        .crossJoin(broadcast(bc.select(col("id").as("bench_id"),
          col("embedding").as("b_emb"), norm(col("embedding")).as("b_nrm"))))
        .filter(dot(col("t_emb"), col("b_emb"))
          / (col("t_nrm") * col("b_nrm")) >= 0.8)
        .agg(count(lit(1)).as("n_exact"))
      // both band configurations run over the ALREADY-centered sides
      // (semanticBandedOn): centering once instead of three times —
      // each semanticBanded call re-ran the train-mean aggregate and
      // re-checkpointed both sides (r15, guide §1.2 step 1)
      val caught = D.semanticBandedOn(tc, bc, 0.8,
          bands = 12, planesPerBand = 5, dim = 64)
        .agg(count(lit(1)).as("n_caught"))
      val caught16 = D.semanticBandedOn(tc, bc, 0.8,
          bands = 16, planesPerBand = 4, dim = 64)
        .agg(count(lit(1)).as("n_caught_16x4"))
      exact.crossJoin(caught).crossJoin(caught16)
        .select(col("n_exact"), col("n_caught"), col("n_caught_16x4"),
          when(col("n_exact") > 0,
            expr("n_caught * 1000000L div n_exact")).otherwise(0L)
            .as("recall_ppm"),
          when(col("n_exact") > 0,
            expr("n_caught_16x4 * 1000000L div n_exact")).otherwise(0L)
            .as("recall_ppm_16x4"))
    }),

    "q121_semantic_decontam_recall" -> ((s, d) => {
      import graft.functions.VectorFunctions._
      val D = graft.operators.Decontaminate
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val train = e.filter(col("id") >= 20L)
      val bench = e.filter(col("id") < 20L)
      // checkpoint the CENTERED arrays before the cross join: inlining
      // the 64 centering expressions into the broadcast-nested-loop
      // consume function (plus the dot/norm folds behind it) pushes the
      // generated method past Janino's 64 KB limit — the plan then
      // FALLS BACK to interpreted eval for the hottest join in the
      // query (the "Code grows beyond 64 KB" bench warning, VERDICT r7
      // #6). A materialization point here keeps every stage codegen'd.
      val (tc0, bc0) = D.centered(train, bench, dim = 64)
      val tc = tc0.localCheckpoint(eager = true)
      val bc = bc0.localCheckpoint(eager = true)
      val exact = tc
        .select(col("id").as("train_id"), col("embedding").as("t_emb"),
                norm(col("embedding")).as("t_nrm"))
        .crossJoin(broadcast(bc.select(col("id").as("bench_id"),
          col("embedding").as("b_emb"), norm(col("embedding")).as("b_nrm"))))
        .filter(dot(col("t_emb"), col("b_emb"))
          / (col("t_nrm") * col("b_nrm")) >= 0.3)
        .groupBy(col("bench_id")).agg(count(lit(1)).as("n_exact"))
      def counted(df: org.apache.spark.sql.DataFrame, as: String) =
        df.groupBy(col("bench_id")).agg(count(lit(1)).as(as))
      // reuse the already-centered/materialized sides instead of a
      // second centering pass inside semanticBanded (r15, §1.2 step 1)
      val banded = counted(D.semanticBandedOn(
        tc, bc, 0.3, bands = 16, planesPerBand = 4, dim = 64), "n_banded")
      val probed = counted(D.semanticProbed(tc, bc, 0.3, 8, 64), "n_probed")
      exact.join(banded, Seq("bench_id"), "left")
        .join(probed, Seq("bench_id"), "left")
        .select(col("bench_id"), col("n_exact"),
          coalesce(col("n_banded"), lit(0L)).as("n_banded"),
          coalesce(col("n_probed"), lit(0L)).as("n_probed"))
        .withColumn("recall_banded",
          col("n_banded").cast("double") / col("n_exact").cast("double"))
        .withColumn("recall_probed",
          col("n_probed").cast("double") / col("n_exact").cast("double"))
    }),

    // IVF coarse-quantizer training: 2 Lloyd's rounds, k=8,
    // deterministic init + tie-free quantized centroid means, so the
    // whole training run is value-checkable against the unrolled SQL
    // oracle. Centroids are emitted exploded to (cid, pos, cval) rows —
    // scalar columns only, so any engine's result comparison can sort /
    // hash them (array cells are unhashable in pandas-based harnesses).
    "q59_kmeans_train" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      graft.operators.KMeans.train(e, k = 8, iters = 2)
        .select(col("cid"), col("n_members"),
                posexplode(col("centroid")).as(Seq("pos", "cval")))
        .select(col("cid"), col("n_members"),
                (col("pos") + 1).cast("long").as("pos"), col("cval"))
    }),

    // End-to-end trained ANN: q59's centroids replace q39's stand-ins —
    // train, index, search in one plan, value-exact throughout.
    "q61_ivf_trained_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val trained = graft.operators.KMeans.train(e, k = 8, iters = 2)
        .select(col("cid"), col("centroid").as("embedding"))
      Similarity.ivfTopK(e.filter(col("id") < 5L), e, trained,
        nprobe = 2, k = 5)
    }),

    // Scalar-quantized (int8) top-k: 4× smaller scan, integer-exact
    // scoring (see Similarity.sq8TopK).
    "q65_sq8_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      Similarity.sq8TopK(e.filter(col("id") < 5L), e, k = 5)
    }),

    // Product-quantization ADC search: 4 subspaces × 16 dims, k=4
    // codebooks (1 Lloyd's round each — unrolled in the oracle), LUT
    // scores quantized to longs so the per-candidate sum is order-free.
    "q69_pq_adc_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val cb = graft.operators.Pq.train(e, m = 4, subDim = 16, k = 4, iters = 1)
      graft.operators.Pq.adcTopK(e.filter(col("id") < 5L), e, cb,
        m = 4, subDim = 16, k = 5)
    }),

    // PQ quality, measured not guessed (the q50/q55 discipline applied
    // to the quantized path): recall@5 of ADC ranking vs the exact
    // cosine top-5 per query. At these oracle-tractable codebook sizes
    // (k=4 per 16-dim subspace — every extra code/round multiplies the
    // unrolled SQL) recall is deliberately coarse (~0.2-0.4); the
    // production knob is k=256 codebooks + an exact re-rank of the ADC
    // page, which this measurement exists to size.
    "q74_pq_recall" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val q = e.filter(col("id") < 5L)
      val exact = Similarity.topK(q, e, k = 5)
        .select(col("query_id"), col("vec_id"))
      val cb = graft.operators.Pq.train(e, m = 4, subDim = 16, k = 4, iters = 1)
      val ann = graft.operators.Pq.adcTopK(q, e, cb, m = 4, subDim = 16, k = 5)
        .select(col("query_id"), col("vec_id"))
      exact.join(ann, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
                (col("n_hits").cast("double") / 5.0).as("recall_at_5"))
    }),

    // Exact re-rank of the ADC page: ADC shortlists 20 candidates per
    // query from the code table alone, the true cosine is computed for
    // ONLY those rows, and the final top-5 is exact over the page —
    // the production fix for q74's quantization-noise recall.
    "q76_pq_rerank" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val cb = graft.operators.Pq.train(e, m = 4, subDim = 16, k = 4, iters = 1)
      graft.operators.Pq.adcRerank(e.filter(col("id") < 5L), e, cb,
        m = 4, subDim = 16, shortlist = 20, k = 5)
    }),

    // Recall after the re-rank (q74's measurement re-run on q76's
    // output): with a 20-wide ADC page the only misses are true
    // neighbors the page never contained, so this isolates the
    // shortlist-width knob from quantization ranking noise.
    "q77_pq_rerank_recall" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val q = e.filter(col("id") < 5L)
      val exact = Similarity.topK(q, e, k = 5)
        .select(col("query_id"), col("vec_id"))
      val cb = graft.operators.Pq.train(e, m = 4, subDim = 16, k = 4, iters = 1)
      val rr = graft.operators.Pq.adcRerank(q, e, cb,
          m = 4, subDim = 16, shortlist = 20, k = 5)
        .select(col("query_id"), col("vec_id"))
      exact.join(rr, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
                (col("n_hits").cast("double") / 5.0).as("recall_at_5"))
    }),

    // The composed scale path: IVF cells prune (q39's stand-in coarse
    // centroids, nprobe=2 of 8), PQ-ADC scores the survivors — one
    // oracled plan for the "IVF prunes, PQ scores" design SCALE.md
    // argues for.
    "q73_ivf_pq_topk" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id").as("id"), col("embedding"))
      val coarse = Tables.load(s, d, "embeddings")
        .filter(col("vec_id") < 8L)
        .select(col("vec_id").as("cid"), col("embedding"))
      val cb = graft.operators.Pq.train(e, m = 4, subDim = 16, k = 4, iters = 1)
      graft.operators.Pq.ivfPqTopK(e.filter(col("id") < 5L), e, coarse, cb,
        nprobe = 2, m = 4, subDim = 16, k = 5)
    })
  )

  /** q35's multiprobed embedding near-dup pairs in SQL — also the pair
    * source for q126's cluster closure, so the two stay in lockstep.
    * Mirrors Dedup.embeddingNearDupProbed at 8 planes: side a keys by
    * its own code, side b by code XOR each of {0, 1<<0..1<<7}, so a
    * pair at code distance ≤ 1 joins on exactly one key. */
  private lazy val embeddingNearDupSql: String = {
    val planeSql = (j: Int) =>
      s"""list_transform(range(1, 65),
            i -> (CAST('0x' || substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 4)
                       AS BIGINT) - 32768) / 32768.0)"""
    val bits = (0 until 8).map { j =>
      s"""CASE WHEN (SELECT ${dotSql("e.embedding", "p")}
                     FROM (SELECT ${planeSql(j)} AS p)) >= 0.0
               THEN ${1L << j} ELSE 0 END"""
    }.mkString(" + ")
    val flipList = (Seq(0L) ++ (0 until 8).map(j => 1L << j)).mkString(", ")
    s"""WITH $embeddingPairsPrefixSql,
        b AS (SELECT id, embedding,
                          CAST($bits AS BIGINT) AS code,
                          sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                   FROM e),
        pr AS (SELECT id, embedding, nrm,
                      xor(code, CAST(t.f AS BIGINT)) AS key
               FROM b, unnest([$flipList]) AS t(f)),
        p AS (SELECT a.id AS id_a, q.id AS id_b,
                     (${dotSql("a.embedding", "q.embedding")})
                       / (a.nrm * q.nrm) AS sim
              FROM b a JOIN pr q ON a.code = q.key AND a.id < q.id)
        SELECT id_a, id_b, sim FROM p WHERE sim >= 0.3"""
  }

  /** The shared `cm`/`e` CTE pair: exact-grid corpus mean per dimension
    * (see Dedup.centerEmbeddings: quantized long sums + integer
    * division — order-free, so both engines compute the identical mean
    * and identical centered values), and the centered table. */
  private lazy val embeddingPairsPrefixSql: String = {
    val sumCols = (1 to 64).map(i =>
      s"""CAST(sum(CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1e9)
              AS BIGINT)) AS BIGINT) AS s$i""").mkString(",\n               ")
    val centered = (1 to 64).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) - (CAST(s$i // n AS DOUBLE) / 1e9)")
      .mkString("[", ",\n                 ", "]")
    s"""emb_e AS (${Tables.embeddingsWithEdgesSql}),
        cm AS (SELECT CAST(count(*) AS BIGINT) AS n,
               $sumCols
             FROM emb_e),
        e AS (SELECT vec_id AS id,
                 $centered AS embedding
              FROM emb_e CROSS JOIN cm)"""
  }

  private def decontamPlaneSql(j: Int): String =
    s"""list_transform(range(1, 65),
          i -> (CAST('0x' || substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 4)
                     AS BIGINT) - 32768) / 32768.0)"""

  /** The decontam family's centered prefix — like
    * [[embeddingPairsPrefixSql]] but the corpus mean is frozen from
    * the TRAIN split only (vec_id >= 20): the mean an index build over
    * the train corpus would store, applied to both sides so codes stay
    * comparable (mirrors Decontaminate.centered). */
  private lazy val decontamCenteredPrefixSql: String = {
    val sumCols = (1 to 64).map(i =>
      s"""CAST(sum(CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1e9)
              AS BIGINT)) AS BIGINT) AS s$i""").mkString(",\n               ")
    val centered = (1 to 64).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) - (CAST(s$i // n AS DOUBLE) / 1e9)")
      .mkString("[", ",\n                 ", "]")
    s"""cm AS (SELECT CAST(count(*) AS BIGINT) AS n,
               $sumCols
             FROM embeddings WHERE vec_id >= 20),
        e AS (SELECT vec_id AS id,
                 $centered AS embedding
              FROM embeddings CROSS JOIN cm)"""
  }

  /** 16 per-band key columns k0..k15; band l's key = l·16 + its 4-bit
    * sign code over planes 4l..4l+3 (mirrors semanticBanded's keys). */
  private lazy val decontamBandCodesSql: String =
    (0 until 16).map { l =>
      val bits = (0 until 4).map { t =>
        s"""CASE WHEN (SELECT ${dotSql("e.embedding", "p")}
                       FROM (SELECT ${decontamPlaneSql(l * 4 + t)} AS p)) >= 0.0
                 THEN ${1 << t} ELSE 0 END"""
      }.mkString(" + ")
      s"CAST(${l * 16} + $bits AS BIGINT) AS k$l"
    }.mkString(",\n               ")

  private lazy val decontamAnyBandSql: String =
    (0 until 16).map(l => s"t.k$l = q.k$l").mkString(" OR ")

  private lazy val decontamFirstBandSql: String =
    "CASE " +
      (0 until 16).map(l => s"WHEN t.k$l = q.k$l THEN $l").mkString(" ") +
      " END"

  /** [[decontamCenteredPrefixSql]] over the q150/q151 corpus —
    * embeddings ∪ the derived train-side paraphrase rows (mirrors
    * decontamProdCorpus; the nudge is computed in DOUBLE and cast back
    * to REAL so both engines land the identical float32 bits). */
  private lazy val decontamProdPrefixSql: String = {
    val sumCols = (1 to 64).map(i =>
      s"""CAST(sum(CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1e9)
              AS BIGINT)) AS BIGINT) AS s$i""").mkString(",\n               ")
    val centered = (1 to 64).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) - (CAST(s$i // n AS DOUBLE) / 1e9)")
      .mkString("[", ",\n                 ", "]")
    s"""emb_p AS (SELECT vec_id, embedding FROM embeddings
               UNION ALL
               SELECT vec_id + 9100000, embedding
               FROM embeddings WHERE vec_id < 2
               UNION ALL
               SELECT vec_id + 9100000,
                      CAST(list_concat(
                        [CAST(CAST(embedding[1] AS DOUBLE) + 0.25 AS REAL)],
                        embedding[2:]) AS REAL[])
               FROM embeddings WHERE vec_id = 2),
        cm AS (SELECT CAST(count(*) AS BIGINT) AS n,
               $sumCols
             FROM emb_p WHERE vec_id >= 20),
        e AS (SELECT vec_id AS id,
                 $centered AS embedding
              FROM emb_p CROSS JOIN cm)"""
  }

  /** [[decontamBandCodesSql]] generalized to any (bands, k) with
    * bands·k ≤ 64 — band l's key = l·2^k + its k-bit sign code over
    * planes l·k..l·k+k−1, mirroring VectorFunctions.bandKeys. */
  private def bandCodesSqlAt(bands: Int, k: Int): String =
    (0 until bands).map { l =>
      val bits = (0 until k).map { t =>
        s"""CASE WHEN (SELECT ${dotSql("e.embedding", "p")}
                       FROM (SELECT ${decontamPlaneSql(l * k + t)} AS p)) >= 0.0
                 THEN ${1 << t} ELSE 0 END"""
      }.mkString(" + ")
      s"CAST(${l.toLong * (1L << k)} + $bits AS BIGINT) AS k$l"
    }.mkString(",\n               ")

  private def anyBandSqlAt(bands: Int): String =
    (0 until bands).map(l => s"t.k$l = q.k$l").mkString(" OR ")

  private def firstBandSqlAt(bands: Int): String =
    "CASE " +
      (0 until bands).map(l => s"WHEN t.k$l = q.k$l THEN $l").mkString(" ") +
      " END"

  /** The 8-plane AND-code over the centered table (q120/q121). */
  private lazy val decontamCode8Sql: String =
    (0 until 8).map { j =>
      s"""CASE WHEN (SELECT ${dotSql("e.embedding", "p")}
                     FROM (SELECT ${decontamPlaneSql(j)} AS p)) >= 0.0
               THEN ${1L << j} ELSE 0 END"""
    }.mkString(" + ")

  /** q144's oracle: the q35 pair join with the plane count derived
    * from the corpus size IN SQL — integer-exact (ceil-divide then
    * smallest power of two; a float log2 could land on either side of
    * an exact power), unrolled to 24 gated planes (covers corpora to
    * 64·2^24 ≈ 10⁹ rows). Side a keys by its own K-bit code, side b by
    * the code XOR each of {0} ∪ {1<<j : j < K}. */
  private lazy val embeddingNearDupAutoSql: String =
    embeddingNearDupAutoSqlAt(0.3)

  private def embeddingNearDupAutoSqlAt(threshold: Double): String = {
    val bits = (0 until 24).map { j =>
      s"""CASE WHEN $j < kk.k AND (SELECT ${dotSql("e.embedding", "p")}
                     FROM (SELECT ${decontamPlaneSql(j)} AS p)) >= 0.0
               THEN ${1L << j} ELSE 0 END"""
    }.mkString(" + ")
    s"""WITH $embeddingPairsPrefixSql,
        kk AS (SELECT CAST(min(j.j) AS BIGINT) AS k
               FROM (SELECT unnest(range(2, 25)) AS j) j,
                    (SELECT CAST(ceil(CAST(count(*) AS DOUBLE) / 64.0)
                                 AS BIGINT) AS m FROM emb_e) mm
               WHERE (CAST(1 AS BIGINT) << j.j) >= mm.m),
        b AS (SELECT id, embedding,
                     CAST($bits AS BIGINT) AS code,
                     sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
              FROM e CROSS JOIN kk),
        pr AS (SELECT id, embedding, nrm,
                      xor(code, CAST(t.f AS BIGINT)) AS key
               FROM b CROSS JOIN kk,
                    unnest(list_prepend(CAST(0 AS BIGINT),
                      list_transform(range(0, CAST(kk.k AS INTEGER)),
                        j -> CAST(CAST(1 AS BIGINT) << j AS BIGINT)))) AS t(f)),
        p AS (SELECT a.id AS id_a, q.id AS id_b,
                     (${dotSql("a.embedding", "q.embedding")})
                       / (a.nrm * q.nrm) AS sim
              FROM b a JOIN pr q ON a.code = q.key AND a.id < q.id)
        SELECT id_a, id_b, sim FROM p WHERE sim >= $threshold"""
  }

  /** q146's oracle: the recursive closure over the AUTO-sized pair
    * graph at the tight threshold 0.4 — the operating point where
    * the pair output is near-dup-sized instead of the 0.3 research
    * setting's dense similarity graph. */
  private lazy val embeddingClustersProductionSql: String =
    s"""WITH RECURSIVE pairs AS (${embeddingNearDupAutoSqlAt(0.4)}),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b AS src, id_a AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach AS (
          SELECT id AS src, id AS dst FROM nodes
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        )
        SELECT src AS vec_id, CAST(min(dst) AS BIGINT) AS cluster_id
        FROM reach GROUP BY src"""

  /** q126/q129's shared oracle: recursive-CTE component closure over
    * the full-table embedding near-dup pair graph. */
  private lazy val embeddingClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($embeddingNearDupSql),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b AS src, id_a AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach AS (
          SELECT id AS src, id AS dst FROM nodes
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        )
        SELECT src AS vec_id, CAST(min(dst) AS BIGINT) AS cluster_id
        FROM reach GROUP BY src"""

  /** q147's oracle: the NAIVE member-level probed pair graph + closure
    * over the mean-zero literal corpus, centering included (pinning
    * that the corpus mean IS the zero vector), with the zero-norm
    * sim-forcing rule written out — the collapsed Spark plan must
    * agree on exactly the rows built to stress its group logic. */
  private lazy val embeddingEdgeClustersSql: String = {
    val sumCols = (1 to 64).map(i =>
      s"""CAST(sum(CAST(floor(CAST(embedding[$i] AS DOUBLE) * 1e9)
              AS BIGINT)) AS BIGINT) AS s$i""").mkString(",\n               ")
    val centered = (1 to 64).map(i =>
      s"CAST(embedding[$i] AS DOUBLE) - (CAST(s$i // n AS DOUBLE) / 1e9)")
      .mkString("[", ",\n                 ", "]")
    val planeSql = (j: Int) =>
      s"""list_transform(range(1, 65),
            i -> (CAST('0x' || substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 4)
                       AS BIGINT) - 32768) / 32768.0)"""
    val bits = (0 until 8).map { j =>
      s"""CASE WHEN (SELECT ${dotSql("e.embedding", "p")}
                     FROM (SELECT ${planeSql(j)} AS p)) >= 0.0
               THEN ${1L << j} ELSE 0 END"""
    }.mkString(" + ")
    val flipList = (Seq(0L) ++ (0 until 8).map(j => 1L << j)).mkString(", ")
    s"""WITH RECURSIVE mz AS (${Tables.meanZeroVecsSql}),
        cm AS (SELECT CAST(count(*) AS BIGINT) AS n,
               $sumCols
             FROM mz),
        e AS (SELECT id, $centered AS embedding FROM mz CROSS JOIN cm),
        b AS (SELECT id, embedding,
                     CAST($bits AS BIGINT) AS code,
                     sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
              FROM e),
        pr AS (SELECT id, embedding, nrm,
                      xor(code, CAST(t.f AS BIGINT)) AS key
               FROM b, unnest([$flipList]) AS t(f)),
        p AS (SELECT a.id AS id_a, q.id AS id_b,
                     CASE WHEN a.nrm * q.nrm = 0.0 THEN 0.0
                          ELSE (${dotSql("a.embedding", "q.embedding")})
                                 / (a.nrm * q.nrm) END AS sim
              FROM b a JOIN pr q ON a.code = q.key AND a.id < q.id),
        pairs AS (SELECT id_a, id_b FROM p WHERE sim >= 0.3),
        edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                  UNION ALL
                  SELECT id_b AS src, id_a AS dst FROM pairs),
        nodes AS (SELECT DISTINCT src AS id FROM edges),
        reach AS (
          SELECT id AS src, id AS dst FROM nodes
          UNION
          SELECT r.src, e2.dst FROM reach r JOIN edges e2 ON e2.src = r.dst
        )
        SELECT src AS vec_id, CAST(min(dst) AS BIGINT) AS cluster_id
        FROM reach GROUP BY src"""
  }

  def oracles: Map[String, String] = Map(
    "q147_embedding_edge_clusters" -> embeddingEdgeClustersSql,


    "q115_jl_projection" -> {
      val planeSql = (j: Int) =>
        s"""list_transform(range(1, 65),
              i -> (CAST('0x' || substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 4)
                         AS BIGINT) - 32768) / 32768.0)"""
      val cols = (0 until 16).map { j =>
        s"""CAST(floor((SELECT ${dotSql("e.embedding", "p")}
                        FROM (SELECT ${planeSql(j)} AS p)) * 1e9) AS BIGINT) AS p$j"""
      }.mkString(",\n                 ")
      s"""SELECT vec_id, $cols
          FROM embeddings e"""
    },

    "q112_embedding_stats" ->
      """WITH u AS (SELECT CAST(t.d AS BIGINT) AS pos,
                           CAST(embedding[t.d] AS DOUBLE) AS x
                    FROM embeddings, unnest(range(1, 65)) AS t(d))
          SELECT pos, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(floor(x * 1e9) AS BIGINT)) AS BIGINT) AS sum_q,
                 CAST(sum(CAST(floor(x * x * 1e9) AS BIGINT)) AS BIGINT) AS sumsq_q,
                 min(x) AS min_x, max(x) AS max_x,
                 CAST(sum(CAST(floor(x * 1e9) AS BIGINT)) AS DOUBLE) / 1e9
                   / CAST(count(*) AS DOUBLE) AS mean
          FROM u GROUP BY pos""",
    "q26_cosine_topk" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                     FROM embeddings WHERE vec_id < 5),
          c AS (SELECT vec_id, embedding AS c_emb FROM embeddings),
          sims AS (SELECT q.query_id, c.vec_id,
                          ${cosineSql("q.q_emb", "c.c_emb")} AS sim
                   FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
          ranked AS (SELECT query_id, vec_id, sim,
                            CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
                     FROM sims)
          SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 10""",

    "q27_knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                     FROM embeddings WHERE vec_id < 50),
          c AS (SELECT vec_id, embedding AS c_emb, label
                FROM embeddings WHERE vec_id >= 50),
          sims AS (SELECT q.query_id, c.vec_id, c.label,
                          ${cosineSql("q.q_emb", "c.c_emb")} AS sim
                   FROM c CROSS JOIN q),
          ranked AS (SELECT query_id, vec_id, label,
                            row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, vec_id) AS rank
                     FROM sims),
          votes AS (SELECT query_id, label, count(*) AS votes
                    FROM ranked WHERE rank <= 5 GROUP BY query_id, label),
          top AS (SELECT query_id, label, votes,
                         row_number() OVER (PARTITION BY query_id
                              ORDER BY votes DESC, label) AS rn
                  FROM votes)
          SELECT query_id AS id, label AS predicted_label,
                 CAST(votes AS BIGINT) AS votes
          FROM top WHERE rn = 1""",

    "q28_ann_buckets" -> {
      val planeSql = (j: Int) =>
        s"""list_transform(range(1, 65),
              i -> (CAST('0x' || substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 4)
                         AS BIGINT) - 32768) / 32768.0)"""
      val bits = (0 until 4).map { j =>
        s"""CASE WHEN (SELECT ${dotSql("e.embedding", "p")}
                       FROM (SELECT ${planeSql(j)} AS p)) >= 0.0
                 THEN ${1L << j} ELSE 0 END"""
      }.mkString(" + ")
      s"""SELECT vec_id, CAST($bits AS BIGINT) AS bucket
          FROM embeddings e"""
    },

    "q48_ann_topk" -> {
      val planeSql = (j: Int) =>
        s"""list_transform(range(1, 65),
              i -> (CAST('0x' || substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 4)
                         AS BIGINT) - 32768) / 32768.0)"""
      val bits = (0 until 2).map { j =>
        s"""CASE WHEN (SELECT ${dotSql("e.embedding", "p")}
                       FROM (SELECT ${planeSql(j)} AS p)) >= 0.0
                 THEN ${1L << j} ELSE 0 END"""
      }.mkString(" + ")
      s"""WITH b AS (SELECT vec_id, embedding,
                            CAST($bits AS BIGINT) AS bucket,
                            sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                     FROM embeddings e),
          q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm,
                       bucket
                FROM b WHERE vec_id < 5),
          scored AS (SELECT q.query_id, c.vec_id, c.bucket,
                            (${dotSql("q.q_emb", "c.embedding")})
                              / (q.q_norm * c.nrm) AS sim
                     FROM b c JOIN q ON q.bucket = c.bucket
                     WHERE c.vec_id <> q.query_id)
          SELECT query_id, vec_id, bucket, sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
          FROM scored
          QUALIFY rank <= 5"""
    },

    "q50_ann_recall" -> {
      val planeSql = (j: Int) =>
        s"""list_transform(range(1, 65),
              i -> (CAST('0x' || substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 4)
                         AS BIGINT) - 32768) / 32768.0)"""
      val bits = (0 until 2).map { j =>
        s"""CASE WHEN (SELECT ${dotSql("e.embedding", "p")}
                       FROM (SELECT ${planeSql(j)} AS p)) >= 0.0
                 THEN ${1L << j} ELSE 0 END"""
      }.mkString(" + ")
      s"""WITH v AS (SELECT vec_id, embedding,
                            CAST($bits AS BIGINT) AS bucket,
                            sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                     FROM embeddings e),
          q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm,
                       bucket FROM v WHERE vec_id < 5),
          exact AS (SELECT query_id, vec_id FROM (
                      SELECT q.query_id, c.vec_id,
                             row_number() OVER (PARTITION BY q.query_id ORDER BY
                               (${dotSql("q.q_emb", "c.embedding")})
                                 / (q.q_norm * c.nrm) DESC, c.vec_id) AS rank
                      FROM v c CROSS JOIN q
                      WHERE c.vec_id <> q.query_id) WHERE rank <= 5),
          ann AS (SELECT query_id, vec_id FROM (
                    SELECT q.query_id, c.vec_id,
                           row_number() OVER (PARTITION BY q.query_id ORDER BY
                             (${dotSql("q.q_emb", "c.embedding")})
                               / (q.q_norm * c.nrm) DESC, c.vec_id) AS rank
                    FROM v c JOIN q ON q.bucket = c.bucket
                    WHERE c.vec_id <> q.query_id) WHERE rank <= 5)
          SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits,
                 CAST(count(*) AS DOUBLE) / 5.0 AS recall_at_5
          FROM exact e JOIN ann a
            ON a.query_id = e.query_id AND a.vec_id = e.vec_id
          GROUP BY e.query_id"""
    },

    "q55_ann_multiprobe" -> {
      val planeSql = (j: Int) =>
        s"""list_transform(range(1, 65),
              i -> (CAST('0x' || substr(md5('${j}_' || CAST(i AS VARCHAR)), 1, 4)
                         AS BIGINT) - 32768) / 32768.0)"""
      val bits = (0 until 4).map { j =>
        s"""CASE WHEN (SELECT ${dotSql("e.embedding", "p")}
                       FROM (SELECT ${planeSql(j)} AS p)) >= 0.0
                 THEN ${1L << j} ELSE 0 END"""
      }.mkString(" + ")
      val probeList = ("q.bucket" +:
        (0 until 4).map(j => s"xor(q.bucket, CAST(${1L << j} AS BIGINT))"))
        .mkString(", ")
      s"""WITH v AS (SELECT vec_id, embedding,
                            CAST($bits AS BIGINT) AS bucket,
                            sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                     FROM embeddings e),
          q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm,
                       bucket FROM v WHERE vec_id < 5),
          exact AS (SELECT query_id, vec_id FROM (
                      SELECT q.query_id, c.vec_id,
                             row_number() OVER (PARTITION BY q.query_id ORDER BY
                               (${dotSql("q.q_emb", "c.embedding")})
                                 / (q.q_norm * c.nrm) DESC, c.vec_id) AS rank
                      FROM v c CROSS JOIN q
                      WHERE c.vec_id <> q.query_id) WHERE rank <= 5),
          ann AS (SELECT query_id, vec_id FROM (
                    SELECT q.query_id, c.vec_id,
                           row_number() OVER (PARTITION BY q.query_id ORDER BY
                             (${dotSql("q.q_emb", "c.embedding")})
                               / (q.q_norm * c.nrm) DESC, c.vec_id) AS rank
                    FROM v c JOIN q
                      ON c.bucket IN ($probeList)
                    WHERE c.vec_id <> q.query_id) WHERE rank <= 5)
          SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits,
                 CAST(count(*) AS DOUBLE) / 5.0 AS recall_at_5
          FROM exact e JOIN ann a
            ON a.query_id = e.query_id AND a.vec_id = e.vec_id
          GROUP BY e.query_id"""
    },

    "q38_ivf_assign" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cent_emb,
                               sqrt(${dotSql("e.embedding", "e.embedding")}) AS cent_norm
                        FROM embeddings e WHERE vec_id < 8),
          v AS (SELECT vec_id AS id, embedding,
                       sqrt(${dotSql("e.embedding", "e.embedding")}) AS v_norm
                FROM embeddings e),
          sims AS (SELECT v.id, c.cid,
                          (${dotSql("v.embedding", "c.cent_emb")})
                            / (v.v_norm * c.cent_norm) AS sim
                   FROM v CROSS JOIN cent c),
          r AS (SELECT id, cid,
                       row_number() OVER (PARTITION BY id
                            ORDER BY sim DESC, cid) AS rn
                FROM sims)
          SELECT id, cid FROM r WHERE rn = 1""",

    "q39_ivf_topk" ->
      s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cent_emb,
                               sqrt(${dotSql("e.embedding", "e.embedding")}) AS cent_norm
                        FROM embeddings e WHERE vec_id < 8),
          v AS (SELECT vec_id AS id, embedding,
                       sqrt(${dotSql("e.embedding", "e.embedding")}) AS v_norm
                FROM embeddings e),
          asn AS (SELECT id, cid FROM (
                    SELECT v.id, c.cid,
                           row_number() OVER (PARTITION BY v.id ORDER BY
                             (${dotSql("v.embedding", "c.cent_emb")})
                               / (v.v_norm * c.cent_norm) DESC, c.cid) AS rn
                    FROM v CROSS JOIN cent c) WHERE rn = 1),
          q AS (SELECT id AS query_id, embedding AS q_emb, v_norm AS q_norm
                FROM v WHERE id < 5),
          probes AS (SELECT query_id, q_emb, q_norm, cid FROM (
                       SELECT q.query_id, q.q_emb, q.q_norm, c.cid,
                              row_number() OVER (PARTITION BY q.query_id ORDER BY
                                (${dotSql("q.q_emb", "c.cent_emb")})
                                  / (q.q_norm * c.cent_norm) DESC, c.cid) AS rn
                       FROM q CROSS JOIN cent c) WHERE rn <= 2),
          cand AS (SELECT v.id AS vec_id, v.embedding AS c_emb,
                          v.v_norm AS c_norm, a.cid
                   FROM v JOIN asn a ON a.id = v.id),
          scored AS (SELECT p.query_id, cd.vec_id, cd.cid,
                            (${dotSql("p.q_emb", "cd.c_emb")})
                              / (p.q_norm * cd.c_norm) AS sim
                     FROM cand cd JOIN probes p ON p.cid = cd.cid
                     WHERE cd.vec_id <> p.query_id)
          SELECT query_id, vec_id, cid, sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
          FROM scored
          QUALIFY rank <= 5""",

    "q35_embedding_neardup" -> embeddingNearDupSql,

    "q144_embedding_neardup_auto" -> embeddingNearDupAutoSql,

    "q146_embedding_clusters_production" -> embeddingClustersProductionSql,

    // q44's recursive-CTE component closure over q35's pair graph.
    "q126_embedding_dup_clusters" -> embeddingClustersSql,

    // value-equal to q126 by the quotient-graph proof — the oracle IS
    // the from-scratch closure, so the driver checks the equality
    "q142_embedding_dedup_collapsed" -> embeddingClustersSql,

    "q143_embedding_recall" ->
      s"""WITH $embeddingPairsPrefixSql,
          truth AS (SELECT DISTINCT least(s.id, c.id) AS id_a,
                           greatest(s.id, c.id) AS id_b
                    FROM e c JOIN e s ON s.id < 200 AND c.id <> s.id
                    WHERE (${dotSql("c.embedding", "s.embedding")})
                          / (sqrt(${dotSql("c.embedding", "c.embedding")})
                             * sqrt(${dotSql("s.embedding", "s.embedding")}))
                            >= 0.3),
          ap AS (SELECT id_a, id_b FROM ($embeddingNearDupSql) q
                 WHERE id_a < 200 OR id_b < 200),
          ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM truth),
          na AS (SELECT CAST(count(*) AS BIGINT) AS n_approx FROM ap),
          nh AS (SELECT CAST(count(*) AS BIGINT) AS n_caught
                 FROM truth JOIN ap USING (id_a, id_b))
          SELECT n_exact, n_approx, n_caught,
                 CASE WHEN n_exact = 0 THEN 0
                      ELSE n_caught * 1000000 // n_exact END AS recall_ppm
          FROM ne CROSS JOIN na CROSS JOIN nh""",

    // Same oracle on purpose: the hyperplane family is data-independent
    // and the verify is exact cosine, so the incremental path's three
    // pair sets (corpus-internal, batch-internal, cross) union to
    // EXACTLY the full-table pair graph — the merged labels must equal
    // clustering the whole table from scratch.
    "q129_incremental_embedding_clusters" -> embeddingClustersSql,

    // q35's centered family across the train/bench split, OR-of-bands:
    // the corpus mean is frozen from the TRAIN side (vec_id >= 20),
    // centers both sides, and a pair is a candidate if any of 16
    // 4-plane band codes matches; the reported band is the FIRST
    // colliding one (the Spark side's exactly-once discipline).
    "q117_semantic_decontam" ->
      s"""WITH $decontamCenteredPrefixSql,
          b AS (SELECT id, embedding, $decontamBandCodesSql,
                       sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                FROM e),
          p AS (SELECT t.id AS train_id, q.id AS bench_id,
                       CAST(${decontamFirstBandSql} AS BIGINT) AS band,
                       (${dotSql("t.embedding", "q.embedding")})
                         / (t.nrm * q.nrm) AS sim
                FROM b t JOIN b q ON (${decontamAnyBandSql})
                 AND t.id >= 20 AND q.id < 20)
          SELECT train_id, bench_id, band, sim FROM p WHERE sim >= 0.3""",

    // The AND-family counterpart on the same centered space: 8-plane
    // code, bucket Hamming ≤ 1 (the multiprobe equi-join and this
    // θ-join agree pair-for-pair: a pair at bucket distance d ≤ 1
    // collides on exactly one probe key).
    "q120_semantic_decontam_mp" ->
      s"""WITH $decontamCenteredPrefixSql,
          b AS (SELECT id, embedding,
                       CAST($decontamCode8Sql AS BIGINT) AS bucket,
                       sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                FROM e),
          p AS (SELECT t.id AS train_id, q.id AS bench_id, t.bucket,
                       (${dotSql("t.embedding", "q.embedding")})
                         / (t.nrm * q.nrm) AS sim
                FROM b t JOIN b q ON bit_count(xor(t.bucket, q.bucket)) <= 1
                 AND t.id >= 20 AND q.id < 20)
          SELECT train_id, bench_id, bucket, sim FROM p WHERE sim >= 0.3""",

    "q150_semantic_decontam_production" ->
      s"""WITH $decontamProdPrefixSql,
          b AS (SELECT id, embedding, ${bandCodesSqlAt(12, 5)},
                       sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                FROM e),
          p AS (SELECT t.id AS train_id, q.id AS bench_id,
                       CAST(${firstBandSqlAt(12)} AS BIGINT) AS band,
                       (${dotSql("t.embedding", "q.embedding")})
                         / (t.nrm * q.nrm) AS sim
                FROM b t JOIN b q ON (${anyBandSqlAt(12)})
                 AND t.id >= 20 AND q.id < 20)
          SELECT train_id, bench_id, band, sim FROM p WHERE sim >= 0.8""",

    "q151_semantic_decontam_production_recall" ->
      s"""WITH $decontamProdPrefixSql,
          b AS (SELECT id, embedding, ${bandCodesSqlAt(12, 5)},
                       sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                FROM e),
          b16 AS (SELECT id, ${bandCodesSqlAt(16, 4)} FROM e),
          sims AS (SELECT t.id AS train_id, q.id AS bench_id,
                          (${anyBandSqlAt(12)}) AS banded,
                          (${dotSql("t.embedding", "q.embedding")})
                            / (t.nrm * q.nrm) AS sim
                   FROM b t JOIN b q ON t.id >= 20 AND q.id < 20),
          s16 AS (SELECT t.id AS train_id, q.id AS bench_id,
                         (${anyBandSqlAt(16)}) AS banded
                  FROM b16 t JOIN b16 q ON t.id >= 20 AND q.id < 20),
          ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact
                 FROM sims WHERE sim >= 0.8),
          ct AS (SELECT CAST(count(*) AS BIGINT) AS n_caught
                 FROM sims WHERE sim >= 0.8 AND banded),
          c16 AS (SELECT CAST(count(*) AS BIGINT) AS n_caught_16x4
                  FROM sims JOIN s16 USING (train_id, bench_id)
                  WHERE sims.sim >= 0.8 AND s16.banded)
          SELECT n_exact, n_caught, n_caught_16x4,
                 CASE WHEN n_exact > 0
                      THEN n_caught * 1000000 // n_exact ELSE 0 END
                   AS recall_ppm,
                 CASE WHEN n_exact > 0
                      THEN n_caught_16x4 * 1000000 // n_exact ELSE 0 END
                   AS recall_ppm_16x4
          FROM ex CROSS JOIN ct CROSS JOIN c16""",

    "q121_semantic_decontam_recall" ->
      s"""WITH $decontamCenteredPrefixSql,
          b AS (SELECT id, embedding, $decontamBandCodesSql,
                       CAST($decontamCode8Sql AS BIGINT) AS bucket,
                       sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                FROM e),
          sims AS (SELECT t.id AS train_id, q.id AS bench_id,
                          (${decontamAnyBandSql}) AS banded,
                          bit_count(xor(t.bucket, q.bucket)) <= 1 AS probed,
                          (${dotSql("t.embedding", "q.embedding")})
                            / (t.nrm * q.nrm) AS sim
                   FROM b t JOIN b q ON t.id >= 20 AND q.id < 20),
          ex AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_exact
                 FROM sims WHERE sim >= 0.3 GROUP BY bench_id),
          bd AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_banded
                 FROM sims WHERE sim >= 0.3 AND banded GROUP BY bench_id),
          pr AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_probed
                 FROM sims WHERE sim >= 0.3 AND probed GROUP BY bench_id)
          SELECT ex.bench_id, ex.n_exact,
                 coalesce(bd.n_banded, 0) AS n_banded,
                 coalesce(pr.n_probed, 0) AS n_probed,
                 CAST(coalesce(bd.n_banded, 0) AS DOUBLE)
                   / CAST(ex.n_exact AS DOUBLE) AS recall_banded,
                 CAST(coalesce(pr.n_probed, 0) AS DOUBLE)
                   / CAST(ex.n_exact AS DOUBLE) AS recall_probed
          FROM ex LEFT JOIN bd ON bd.bench_id = ex.bench_id
                  LEFT JOIN pr ON pr.bench_id = ex.bench_id""",

    // IVF drift monitor: a2 is the kmeans CTEs' FINAL euclidean
    // assignment (same fold, same tie-break); distances recomputed
    // against c2 and quantized exactly like the engine.
    "q136_ivf_drift" -> {
      val sq = (a: String, b: String) =>
        s"""list_reduce(
              list_prepend(0.0, list_transform(range(1, len($a) + 1),
                i -> ($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)])
                     * ($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)]))),
              (x, y) -> x + y)"""
      s"""WITH $kmeansCtesSql,
          dist AS (SELECT id, cid, sqdist FROM (
                     SELECT v.id, c.cid,
                            ${sq("v.emb", "c.cent")} AS sqdist,
                            row_number() OVER (PARTITION BY v.id
                              ORDER BY ${sq("v.emb", "c.cent")}, c.cid) AS rn
                     FROM corpus v CROSS JOIN c2 c) WHERE rn = 1),
          tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM corpus),
          agg AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
                         CAST(sum(CAST(floor(sqdist * 1e9) AS HUGEINT))
                              AS BIGINT) AS sumd_q
                  FROM dist GROUP BY cid)
          SELECT agg.cid, agg.n_members,
                 CAST(agg.sumd_q // agg.n_members AS BIGINT) AS mean_sqd_q,
                 CAST(agg.n_members * 10000 // tot.n_total AS BIGINT)
                   AS share_x10000
          FROM agg CROSS JOIN tot"""
    },

    // SemDeDup: q59's trained centroids (kmeans CTEs), q61's cosine
    // assignment, then a within-cell pair EXISTS — the oracle's cell
    // join mirrors the engine's equi-join exactly.
    "q133_semantic_dedup" ->
      s"""WITH $kmeansCtesSql,
          cent AS (SELECT cid, cent AS cent_emb,
                          sqrt(${dotSql("c2.cent", "c2.cent")}) AS cent_norm
                   FROM c2),
          v AS (SELECT id, emb, sqrt(${dotSql("corpus.emb", "corpus.emb")}) AS nrm
                FROM corpus WHERE id < 800),
          asn AS (SELECT id, cid FROM (
                    SELECT v.id, c.cid,
                           row_number() OVER (PARTITION BY v.id ORDER BY
                             (${dotSql("v.emb", "c.cent_emb")})
                               / (v.nrm * c.cent_norm) DESC, c.cid) AS rn
                    FROM v CROSS JOIN cent c) WHERE rn = 1),
          j AS (SELECT v.id, v.emb, v.nrm, a.cid
                FROM v JOIN asn a ON a.id = v.id),
          drp AS (SELECT DISTINCT hi.id
                  FROM j hi JOIN j lo ON hi.cid = lo.cid AND lo.id < hi.id
                  WHERE (${dotSql("hi.emb", "lo.emb")})
                          / (hi.nrm * lo.nrm) >= 0.4)
          SELECT j.id, j.cid, (drp.id IS NOT NULL) AS dropped
          FROM j LEFT JOIN drp ON drp.id = j.id""",

    "q59_kmeans_train" ->
      s"""WITH $kmeansCtesSql
          SELECT c2.cid,
                 coalesce(cnt.n_members, 0) AS n_members,
                 CAST(t.d AS BIGINT) AS pos,
                 c2.cent[CAST(t.d AS INTEGER)] AS cval
          FROM c2 LEFT JOIN (SELECT cid, CAST(count(*) AS BIGINT) AS n_members
                             FROM a2 GROUP BY cid) cnt USING (cid),
               unnest(range(1, 65)) AS t(d)""",

    // q39's IVF search with the q59-trained centroids in place of the
    // stand-ins — training, index build and search as ONE oracled plan.
    "q61_ivf_trained_topk" ->
      s"""WITH $kmeansCtesSql,
          cent AS (SELECT cid, cent AS cent_emb,
                          sqrt(${dotSql("c2.cent", "c2.cent")}) AS cent_norm
                   FROM c2),
          v AS (SELECT id, emb AS embedding,
                       sqrt(${dotSql("corpus.emb", "corpus.emb")}) AS v_norm
                FROM corpus),
          asn AS (SELECT id, cid FROM (
                    SELECT v.id, c.cid,
                           row_number() OVER (PARTITION BY v.id ORDER BY
                             (${dotSql("v.embedding", "c.cent_emb")})
                               / (v.v_norm * c.cent_norm) DESC, c.cid) AS rn
                    FROM v CROSS JOIN cent c) WHERE rn = 1),
          q AS (SELECT id AS query_id, embedding AS q_emb, v_norm AS q_norm
                FROM v WHERE id < 5),
          probes AS (SELECT query_id, q_emb, q_norm, cid FROM (
                       SELECT q.query_id, q.q_emb, q.q_norm, c.cid,
                              row_number() OVER (PARTITION BY q.query_id ORDER BY
                                (${dotSql("q.q_emb", "c.cent_emb")})
                                  / (q.q_norm * c.cent_norm) DESC, c.cid) AS rn
                       FROM q CROSS JOIN cent c) WHERE rn <= 2),
          cand AS (SELECT v.id AS vec_id, v.embedding AS c_emb,
                          v.v_norm AS c_norm, a.cid
                   FROM v JOIN asn a ON a.id = v.id),
          scored AS (SELECT p.query_id, cd.vec_id, cd.cid,
                            (${dotSql("p.q_emb", "cd.c_emb")})
                              / (p.q_norm * cd.c_norm) AS sim
                     FROM cand cd JOIN probes p ON p.cid = cd.cid
                     WHERE cd.vec_id <> p.query_id)
          SELECT query_id, vec_id, cid, sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
          FROM scored
          QUALIFY rank <= 5""",

    // int8 symmetric scalar quantization: one corpus-wide scale from an
    // order-free max, floor(x·scale + 0.5) clamp ±127, exact integer
    // dot products — no float accumulation anywhere in the ranking.
    "q65_sq8_topk" ->
      s"""WITH s AS (SELECT 127.0 / max(list_reduce(
                       list_prepend(0.0, list_transform(embedding,
                         x -> abs(CAST(x AS DOUBLE)))),
                       (a, b) -> greatest(a, b))) AS scale
                     FROM embeddings),
          v AS (SELECT vec_id,
                       list_transform(embedding,
                         x -> CAST(least(greatest(floor(CAST(x AS DOUBLE)
                                * s.scale + 0.5), -127.0), 127.0)
                              AS BIGINT)) AS q8
                FROM embeddings CROSS JOIN s),
          q AS (SELECT vec_id AS query_id, q8 AS p8 FROM v WHERE vec_id < 5),
          sc AS (SELECT q.query_id, c.vec_id,
                        list_reduce(
                          list_prepend(CAST(0 AS BIGINT),
                            list_transform(range(1, len(c.q8) + 1),
                              i -> q.p8[CAST(i AS INTEGER)] * c.q8[CAST(i AS INTEGER)])),
                          (a, b) -> a + b) AS qdot
                 FROM v c CROSS JOIN q WHERE c.vec_id <> q.query_id)
          SELECT query_id, vec_id, qdot,
                 CAST(qdot AS DOUBLE)
                   / ((SELECT scale FROM s) * (SELECT scale FROM s)) AS dot_hat,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY qdot DESC, vec_id) AS BIGINT) AS rank
          FROM sc
          QUALIFY rank <= 5""",

    // PQ-ADC: per-subspace 1-round k-means codebooks (the q59 CTE
    // pattern at 16 dims / k=4, one block per subspace), nearest-code
    // encoding, and LUT scores floor-quantized to BIGINTs so the
    // per-candidate sum is accumulation-order-free.
    "q69_pq_adc_topk" -> {
      val ctes = (0 until 4).map(pqCtesSql).mkString(",\n          ")
      val codesU = (0 until 4).map(j => s"SELECT * FROM codes$j")
        .mkString(" UNION ALL ")
      val lutU = (0 until 4).map(j => s"SELECT * FROM lut$j")
        .mkString(" UNION ALL ")
      s"""WITH $ctes,
          codes AS ($codesU),
          lut AS ($lutU),
          sc AS (SELECT l.query_id, c.id AS vec_id,
                        CAST(sum(l.qd) AS BIGINT) AS adc_q
                 FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
                 WHERE c.id <> l.query_id
                 GROUP BY l.query_id, c.id)
          SELECT query_id, vec_id, adc_q,
                 CAST(adc_q AS DOUBLE) / 1e12 AS adc_hat,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY adc_q DESC, vec_id) AS BIGINT) AS rank
          FROM sc
          QUALIFY rank <= 5"""
    },

    // exact cosine top-5 (q26's CTE shape) vs the q69 ADC top-5.
    "q74_pq_recall" -> {
      val ctes = (0 until 4).map(pqCtesSql).mkString(",\n          ")
      val codesU = (0 until 4).map(j => s"SELECT * FROM codes$j")
        .mkString(" UNION ALL ")
      val lutU = (0 until 4).map(j => s"SELECT * FROM lut$j")
        .mkString(" UNION ALL ")
      s"""WITH $ctes,
          codes AS ($codesU),
          lut AS ($lutU),
          v AS (SELECT vec_id, embedding,
                       sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
                FROM embeddings e),
          q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm
                FROM v WHERE vec_id < 5),
          exact AS (SELECT query_id, vec_id FROM (
                      SELECT q.query_id, c.vec_id,
                             row_number() OVER (PARTITION BY q.query_id ORDER BY
                               (${dotSql("q.q_emb", "c.embedding")})
                                 / (q.q_norm * c.nrm) DESC, c.vec_id) AS rank
                      FROM v c CROSS JOIN q
                      WHERE c.vec_id <> q.query_id) WHERE rank <= 5),
          adc AS (SELECT query_id, vec_id FROM (
                    SELECT l.query_id, c.id AS vec_id,
                           row_number() OVER (PARTITION BY l.query_id
                                ORDER BY sum(l.qd) DESC, c.id) AS rank
                    FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
                    WHERE c.id <> l.query_id
                    GROUP BY l.query_id, c.id) WHERE rank <= 5)
          SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits,
                 CAST(count(*) AS DOUBLE) / 5.0 AS recall_at_5
          FROM exact e JOIN adc a
            ON a.query_id = e.query_id AND a.vec_id = e.vec_id
          GROUP BY e.query_id"""
    },

    // q69's ADC ranking widened to a 20-candidate page, then the true
    // cosine (q26's fold) over ONLY the page, exact top-5.
    "q76_pq_rerank" ->
      s"""WITH $pqPagePrefixSql
          SELECT query_id, vec_id, sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY sim DESC, vec_id) AS BIGINT) AS rank
          FROM rers
          QUALIFY rank <= 5""",

    // recall@5 of the re-ranked page vs the exact top-5.
    "q77_pq_rerank_recall" ->
      s"""WITH $pqPagePrefixSql,
          rr AS (SELECT query_id, vec_id FROM (
                   SELECT query_id, vec_id,
                          row_number() OVER (PARTITION BY query_id
                               ORDER BY sim DESC, vec_id) AS rank
                   FROM rers) WHERE rank <= 5),
          exact AS (SELECT query_id, vec_id FROM (
                      SELECT q.query_id, c.vec_id,
                             row_number() OVER (PARTITION BY q.query_id ORDER BY
                               (${dotSql("q.q_emb", "c.embedding")})
                                 / (q.q_norm * c.nrm) DESC, c.vec_id) AS rank
                      FROM v c CROSS JOIN q
                      WHERE c.vec_id <> q.query_id) WHERE rank <= 5)
          SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits,
                 CAST(count(*) AS DOUBLE) / 5.0 AS recall_at_5
          FROM exact e JOIN rr a
            ON a.query_id = e.query_id AND a.vec_id = e.vec_id
          GROUP BY e.query_id""",

    // IVF pruning (q39's cosine assignment/probing over the stand-in
    // coarse centroids) composed with the q69 PQ codes/LUT.
    "q73_ivf_pq_topk" -> {
      val ctes = (0 until 4).map(pqCtesSql).mkString(",\n          ")
      val codesU = (0 until 4).map(j => s"SELECT * FROM codes$j")
        .mkString(" UNION ALL ")
      val lutU = (0 until 4).map(j => s"SELECT * FROM lut$j")
        .mkString(" UNION ALL ")
      s"""WITH $ctes,
          codes AS ($codesU),
          lut AS ($lutU),
          cent AS (SELECT vec_id AS ccid, embedding AS cent_emb,
                          sqrt(${dotSql("e.embedding", "e.embedding")}) AS cent_norm
                   FROM embeddings e WHERE vec_id < 8),
          v AS (SELECT vec_id AS id, embedding,
                       sqrt(${dotSql("e.embedding", "e.embedding")}) AS v_norm
                FROM embeddings e),
          asn AS (SELECT id, ccid FROM (
                    SELECT v.id, c.ccid,
                           row_number() OVER (PARTITION BY v.id ORDER BY
                             (${dotSql("v.embedding", "c.cent_emb")})
                               / (v.v_norm * c.cent_norm) DESC, c.ccid) AS rn
                    FROM v CROSS JOIN cent c) WHERE rn = 1),
          q AS (SELECT id AS query_id, embedding AS q_emb, v_norm AS q_norm
                FROM v WHERE id < 5),
          probes AS (SELECT query_id, ccid FROM (
                       SELECT q.query_id, c.ccid,
                              row_number() OVER (PARTITION BY q.query_id ORDER BY
                                (${dotSql("q.q_emb", "c.cent_emb")})
                                  / (q.q_norm * c.cent_norm) DESC, c.ccid) AS rn
                       FROM q CROSS JOIN cent c) WHERE rn <= 2),
          cand AS (SELECT a.id AS vec_id, a.ccid, p.query_id
                   FROM asn a JOIN probes p USING (ccid)),
          sc AS (SELECT cd.query_id, cd.vec_id, cd.ccid AS cell,
                        CAST(sum(l.qd) AS BIGINT) AS adc_q
                 FROM cand cd
                 JOIN codes k2 ON k2.id = cd.vec_id
                 JOIN lut l ON l.query_id = cd.query_id
                           AND l.m = k2.m AND l.cid = k2.cid
                 WHERE cd.vec_id <> cd.query_id
                 GROUP BY cd.query_id, cd.vec_id, cd.ccid)
          SELECT query_id, vec_id, cell, adc_q,
                 CAST(adc_q AS DOUBLE) / 1e12 AS adc_hat,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY adc_q DESC, vec_id) AS BIGINT) AS rank
          FROM sc
          QUALIFY rank <= 5"""
    }
  )

  /** Shared CTE prefix for the rerank oracles (q76/q77): the q69 PQ
    * codes/LUT blocks, the ADC page at width 20, and `rers` — the true
    * cosine over only the page rows. Also defines `v`/`q` (corpus and
    * query vectors with norms) for reuse by q77's exact arm. */
  private lazy val pqPagePrefixSql: String = {
    val ctes = (0 until 4).map(pqCtesSql).mkString(",\n          ")
    val codesU = (0 until 4).map(j => s"SELECT * FROM codes$j")
      .mkString(" UNION ALL ")
    val lutU = (0 until 4).map(j => s"SELECT * FROM lut$j")
      .mkString(" UNION ALL ")
    s"""$ctes,
        codes AS ($codesU),
        lut AS ($lutU),
        page AS (SELECT query_id, vec_id FROM (
                   SELECT l.query_id, c.id AS vec_id,
                          row_number() OVER (PARTITION BY l.query_id
                               ORDER BY sum(l.qd) DESC, c.id) AS rank
                   FROM codes c JOIN lut l ON l.m = c.m AND l.cid = c.cid
                   WHERE c.id <> l.query_id
                   GROUP BY l.query_id, c.id) WHERE rank <= 20),
        v AS (SELECT vec_id, embedding,
                     sqrt(${dotSql("e.embedding", "e.embedding")}) AS nrm
              FROM embeddings e),
        q AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm
              FROM v WHERE vec_id < 5),
        rers AS (SELECT p.query_id, p.vec_id,
                        (${dotSql("q.q_emb", "c.embedding")})
                          / (q.q_norm * c.nrm) AS sim
                 FROM page p
                 JOIN v c ON c.vec_id = p.vec_id
                 JOIN q ON q.query_id = p.query_id)"""
  }

  /** One subspace's CTE block for the PQ oracle: slice dims
    * [j·16+1, j·16+16], 1 unrolled Lloyd's round at k=4 (same
    * quantized-mean discipline as the q59 k-means CTEs), nearest-code
    * assignment, and the query-side LUT with floor(dot·1e12) entries. */
  private def pqCtesSql(j: Int): String = {
    val lo = j * 16 + 1
    val hi = j * 16 + 16
    def sq(a: String, b: String) =
      s"""list_reduce(
            list_prepend(0.0, list_transform(range(1, len($a) + 1),
              i -> ($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)])
                   * ($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)]))),
            (x, y) -> x + y)"""
    s"""corpus$j AS (SELECT vec_id AS id,
                  list_transform(embedding[$lo:$hi], x -> CAST(x AS DOUBLE)) AS emb
                FROM embeddings),
        c0$j AS (SELECT id AS cid, emb AS cent FROM corpus$j WHERE id < 4),
        a1$j AS (SELECT id, emb, cid FROM (
               SELECT v.id, v.emb, c.cid,
                      row_number() OVER (PARTITION BY v.id
                        ORDER BY ${sq("v.emb", "c.cent")}, c.cid) AS rn
               FROM corpus$j v CROSS JOIN c0$j c) WHERE rn = 1),
        m1$j AS (SELECT cid, t.d AS pos,
                       CAST(sum(CAST(floor(emb[CAST(t.d AS INTEGER)] * 1e12)
                                     AS BIGINT)) AS DOUBLE)
                         / 1e12 / CAST(count(*) AS DOUBLE) AS mm
                FROM a1$j, unnest(range(1, 17)) AS t(d)
                GROUP BY cid, t.d),
        cn1$j AS (SELECT cid, list(mm ORDER BY pos) AS cent
                  FROM m1$j GROUP BY cid),
        c1$j AS (SELECT p.cid, coalesce(cn1$j.cent, p.cent) AS cent
                 FROM c0$j p LEFT JOIN cn1$j USING (cid)),
        codes$j AS (SELECT id, $j AS m, cid FROM (
               SELECT v.id, c.cid,
                      row_number() OVER (PARTITION BY v.id
                        ORDER BY ${sq("v.emb", "c.cent")}, c.cid) AS rn
               FROM corpus$j v CROSS JOIN c1$j c) WHERE rn = 1),
        lut$j AS (SELECT q.id AS query_id, $j AS m, c.cid,
                       CAST(floor((${dotSql("q.emb", "c.cent")}) * 1e12)
                            AS BIGINT) AS qd
                FROM corpus$j q CROSS JOIN c1$j c WHERE q.id < 5)"""
  }

  /** Shared CTE prefix: two unrolled Lloyd's rounds over the 64-dim
    * embeddings (`corpus`, init `c0`, rounds → `a1/c1`, `a2/c2`).
    * Distance is the same sequential left-fold as the Spark side;
    * per-dim means sum floor(x*1e12) as exact BIGINTs (order-free, and
    * floor has no rounding ties, unlike a DECIMAL cast — NOTES.md) and
    * divide as doubles, so centroids match bit-for-bit. */
  private lazy val kmeansCtesSql: String = {
    def sq(a: String, b: String) =
      s"""list_reduce(
            list_prepend(0.0, list_transform(range(1, len($a) + 1),
              i -> ($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)])
                   * ($a[CAST(i AS INTEGER)] - $b[CAST(i AS INTEGER)]))),
            (x, y) -> x + y)"""
    def round(n: Int, prev: String) =
      s"""a$n AS (SELECT id, emb, cid FROM (
               SELECT v.id, v.emb, c.cid,
                      row_number() OVER (PARTITION BY v.id
                        ORDER BY ${sq("v.emb", "c.cent")}, c.cid) AS rn
               FROM corpus v CROSS JOIN $prev c) WHERE rn = 1),
          m$n AS (SELECT cid, t.d AS pos,
                         CAST(sum(CAST(floor(emb[CAST(t.d AS INTEGER)] * 1e12)
                                       AS BIGINT)) AS DOUBLE)
                           / 1e12 / CAST(count(*) AS DOUBLE) AS m
                  FROM a$n, unnest(range(1, 65)) AS t(d)
                  GROUP BY cid, t.d),
          cn$n AS (SELECT cid, list(m ORDER BY pos) AS cent
                   FROM m$n GROUP BY cid),
          c$n AS (SELECT p.cid, coalesce(cn$n.cent, p.cent) AS cent
                  FROM $prev p LEFT JOIN cn$n USING (cid))"""
    s"""corpus AS (SELECT vec_id AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                FROM embeddings),
        c0 AS (SELECT id AS cid, emb AS cent FROM corpus WHERE id < 8),
        ${round(1, "c0")},
        ${round(2, "c1")}"""
  }
}
