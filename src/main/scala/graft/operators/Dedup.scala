package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-shuffle groupBy on a 32-byte digest — the
  *    map-side partial aggregation makes the shuffle carry only distinct
  *    digests per partition.
  *  - MinHash-LSH avoids the O(n²) pair space entirely: candidates come
  *    from an equi-join on (band, bandKey), i.e. one shuffle keyed by the
  *    band hash; only colliding docs are compared. Signature computation
  *    is explode → groupBy(min…), all map-side-combinable.
  *  - SimHash buckets near-dups by Hamming-adjacent fingerprints; the
  *    bucket key join is again a plain equi-join.
  *  - The all-pairs `ngramJaccardPairs` is intentionally block-scoped
  *    (caller supplies a blocking predicate) — it is the verification/
  *    test-scale path, LSH is the scale path.
  */
object Dedup {

  /** Exact duplicate groups: md5(text) → canonical (min) id + count. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"),
           count(lit(1)).as("n_copies"))

  /** Per-doc distinct word-n-gram shingle rows: (id, shingle). Tokens
    * are staged through a projection so the split runs once per doc,
    * not once per shingle slot. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"),
              explode(wordShinglesFromTokens(col("_toks"), n)).as("shingle"))

  /** Per-doc distinct shingle ARRAYS: (doc_id, shingles) — the un-
    * exploded form of [[shingleRows]] (explode(shingles) reproduces it
    * exactly). Staging the array lets signatures be computed MAP-SIDE
    * ([[minhashSignaturesFromArrays]]) instead of explode + groupBy. */
  def shingleArrays(docs: DataFrame, idCol: String, textCol: String,
                    n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"),
              wordShinglesFromTokens(col("_toks"), n).as("shingles"))

  /** MAP-SIDE [[minhashSignatures]] over per-doc shingle arrays: hash
    * j's min runs as array_min(transform(...)) inside the row — no
    * explode, no groupBy, no exchange (guide §2.4: the signature
    * aggregate was a full shuffle of the shingle relation, the largest
    * intermediate in the LSH pipeline). Value-identical: min over the
    * same md5 strings, and docs with NO shingles are filtered out just
    * as the exploded groupBy never saw them. Callers must pass
    * `shArr` through a materialization point (persist) so the shingle
    * build isn't re-run once per hash slot. */
  def minhashSignaturesFromArrays(shArr: DataFrame, k: Int): DataFrame =
    minhashSignaturesFromArrays(shArr, k, Nil)

  /** [[minhashSignaturesFromArrays]] carrying extra columns through —
    * an incremental caller keeps its batch tag on the signature row
    * directly instead of re-joining a doc-sized tag relation.
    *
    * All k slots come from ONE compiled pass
    * ([[graft.functions.MinHashHex]]); the k × array_min(transform(…))
    * higher-order form this replaced is interpreted per element and
    * measured ~5× slower on the signing-dominated q116. The `_sigs`
    * array is staged through its own projection so the k extractors
    * read one materialized value. */
  def minhashSignaturesFromArrays(shArr: DataFrame, k: Int,
                                  carry: Seq[String]): DataFrame = {
    import org.apache.spark.sql.GraftExpressionBridge
    val sigs = GraftExpressionBridge.column(graft.functions.MinHashHex(
      GraftExpressionBridge.expression(col("shingles")), k))
    shArr.filter(size(col("shingles")) > 0)
      .select((col("doc_id") +: carry.map(col)) :+ sigs.as("_sigs"): _*)
      .select((col("doc_id") +: carry.map(col)) ++
        (0 until k).map(j => element_at(col("_sigs"), j + 1).as(s"h$j")): _*)
  }

  /** MinHash signature: k md5-derived min-hashes over the shingle set.
    * Hash j of a shingle is md5("<j>|<shingle>") — a string min is as
    * uniform as an integer min and reproducible in any engine. */
  def minhashSignatures(shingles: DataFrame, k: Int): DataFrame = {
    val hashes = (0 until k).map(j =>
      min(md5(concat(lit(s"$j|"), col("shingle")))).as(s"h$j"))
    shingles.groupBy(col("doc_id")).agg(hashes.head, hashes.tail: _*)
  }

  /** LSH band keys: `bands` bands of `rowsPerBand` signature slots each;
    * key = md5 of the concatenated slots. Output: (doc_id, band, band_key).
    * rowsPerBand must be ≥ 1: zero slots would give EVERY doc the same
    * band key (md5 of the empty concat) and the candidate join becomes
    * the full n² cross product LSH exists to avoid. Callers derive
    * rowsPerBand = k / bands, so k must divide by bands — a remainder
    * would silently never band the trailing signature slots. */
  def lshBands(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"need bands >= 1 and rowsPerBand >= 1, got bands=$bands rows=$rowsPerBand")
    val bandRows = (0 until bands).map { b =>
      val slots = (b * rowsPerBand until (b + 1) * rowsPerBand).map(j => col(s"h$j"))
      sig.select(col("doc_id"), lit(b).as("band"),
                 md5(concat(slots: _*)).as("band_key"))
    }
    bandRows.reduce(_ union _)
  }

  /** Near-duplicate pairs via MinHash-LSH, verified with exact Jaccard.
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold. */
  def minhashLsh(docs: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, k: Int = 8, bands: Int = 2,
                 threshold: Double = 0.5): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"k must divide into bands (got k=$k, bands=$bands) — a remainder " +
      "would silently drop trailing signature slots from banding")
    // the shingle ARRAYS feed three consumers (map-side signatures +
    // both sides of the Jaccard verify) — persist so tokenize/shingle
    // runs once, not thrice; the exploded row form is derived from the
    // cache where needed (explode from cache is in-partition work)
    val shArr = shingleArrays(docs, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // map-side signatures (no explode+groupBy exchange — guide §2.4);
    // sig feeds both band branches and both sides of the candidate
    // self-join — persist so the k·|shingles| md5s run once, not 4×
    val sig = minhashSignaturesFromArrays(shArr, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r16 measured-and-REVERTED (plans/r16/band_join_probe.txt): a
    // repartition(band, band_key)+persist of the band table — the
    // "pre-partitioned self-join" shape — ADDED a full band-table
    // shuffle on every LSH query (q24 shuffle bytes 9.6 KB → 413 KB)
    // because at bench scale the planner already BROADCASTS the
    // candidate self-join: zero band shuffle to remove. At broadcast-
    // impossible scale the one-exchange shape is the localCheckpoint
    // staging (probe: its two join-side exchanges ReuseExchange-share;
    // the bare-persist shape's do not), which q139 already uses.
    val bandDf = lshBands(sig, bands, k / bands)
    // materialize the (small) verified-pairs result, then drop the
    // pipeline caches — without this a long-lived session leaks the
    // shingle/signature blocks of every near-dup call it ever ran
    val out = minhashLshFromArrays(shArr, bandDf, threshold)
      .localCheckpoint(eager = true)
    shArr.unpersist(blocking = false)
    sig.unpersist(blocking = false)
    out
  }

  /** [[minhashLsh]]'s core over precomputed shingle and band tables —
    * exposed so a persistent index that already signed a batch
    * ([[graft.operators.NearDupIndex.ingest]]) does not shingle and
    * sign it a second time. Caller owns persistence of `sh`/`bandDf`
    * (both are consumed more than once). */
  private[operators] def minhashLshFrom(sh: DataFrame, bandDf: DataFrame,
                                        threshold: Double): DataFrame = {
    val cand = bandCandidates(bandDf)
    verifyJaccard(cand, sh, threshold)
  }

  /** Candidate pairs from a band table: the (band, band_key) self
    * equi-join, deduplicated. */
  private def bandCandidates(bandDf: DataFrame): DataFrame = {
    val a = bandDf.select(col("band"), col("band_key"), col("doc_id").as("id_a"))
    val b = bandDf.select(col("band"), col("band_key"), col("doc_id").as("id_b"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** [[minhashLshFrom]] over per-doc shingle ARRAYS (the
    * [[shingleArrays]] form): identical candidate join and Jaccard
    * verify, but the per-doc shingle-set size comes from `size()` of
    * the array — map-side — instead of a groupBy count over the
    * exploded shingle relation (one exchange fewer; guide §2.4). */
  private[operators] def minhashLshFromArrays(shArr: DataFrame,
                                              bandDf: DataFrame,
                                              threshold: Double): DataFrame = {
    val cand = bandCandidates(bandDf)
    val sh = shArr.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val counts = shArr.select(col("doc_id"),
      size(col("shingles")).cast("long").as("n_sh"))
    jaccardFrom(intersectCountsWith(cand, sh, counts), threshold)
  }

  /** Near-dup cluster labels with EXACT-IDENTITY COLLAPSE — the
    * text-side twin of [[embeddingDupClusters]], and the shape that
    * survives a real web corpus: exact duplicates arrive as huge
    * cliques (the organic-dup stress corpus grows 100-copy cliques),
    * and the direct [[minhashLsh]] candidate join materializes
    * Θ(dup²) rows per clique before verification — the canonical
    * dedup scale killer. Here bit-identical texts (md5 key) collapse
    * to one representative (min id), the LSH + Jaccard-verify + CC
    * chain runs over REPRESENTATIVES only, and members re-enter as
    * rep-rooted star edges — linear in members.
    *
    * Value-equal to `connectedComponents(minhashLsh(docs))` by the
    * quotient-graph argument: identical texts have identical shingle
    * sets, hence identical signatures/bands and identical verify
    * verdicts against any third doc, so contracting identity groups
    * preserves components; labels agree because every member id ≥ its
    * group's rep, so a component's global min id IS the min over its
    * reps. Shingle-less docs (under n tokens) are excluded from
    * groups — they can never band, so the direct plan never emits
    * them, identical or not (the [[embeddingDupClusters]] zero-vector
    * rule, text-side). DedupSpec pins the equality, cliques and
    * shingle-less classes included.
    * Output: (doc_id, cluster_id), the [[connectedComponents]]
    * contract. */
  def textDupClusters(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 8, bands: Int = 2,
                      threshold: Double = 0.5): DataFrame = {
    // "has shingles" is a MAP-SIDE predicate (shingles nonempty ⟺
    // ≥ shingleN tokens — TextFunctions.wordShinglesFromTokens's
    // short-doc guard), not a semi-join against the shingle relation
    val keyed = docs
      .filter(size(graft.functions.TextFunctions.tokens(col(textCol)))
        >= shingleN)
      .select(col(idCol).as("doc_id"), md5(col(textCol)).as("_fp"))
    val groups = keyed.groupBy(col("_fp"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("grp_n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val memb = keyed.join(groups, Seq("_fp"))
      .select(col("doc_id"), col("rep"), col("grp_n"))
    // shingle ONLY representatives: semi-join the doc relation (one
    // row per doc) to reps first, then tokenize — vs shingling the
    // whole corpus and semi-joining the much larger shingle relation
    // (~one row per token) against reps just to discard every
    // non-representative's shingles (r13 ADVICE)
    val shRepArr = shingleArrays(
        docs.select(col(idCol).as("doc_id"), col(textCol))
          .join(groups.select(col("rep").as("doc_id")),
            Seq("doc_id"), "left_semi"),
        "doc_id", textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // map-side signatures over the cached arrays (no explode+groupBy
    // exchange); bands are a cheap projection over them (r16: a
    // pre-partitioning repartition was measured and reverted — the
    // candidate join broadcasts at this scale, see minhashLsh)
    val bandDf = lshBands(minhashSignaturesFromArrays(shRepArr, k),
        bands, k / bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // checkpoint BEFORE the CC loop — pointer jumping re-reads its
    // edge list every round, and an unmaterialized LSH+verify chain
    // would re-run per round (minhashLsh checkpoints its own output
    // for exactly this reason)
    val repPairs = minhashLshFromArrays(shRepArr, bandDf, threshold)
      .select(col("id_a"), col("id_b")).localCheckpoint(eager = true)
    val repCC = connectedComponents(repPairs)
      .select(col("doc_id").as("rep"), col("cluster_id"))
    val out = memb.join(repCC, Seq("rep"), "left")
      .filter(col("cluster_id").isNotNull || col("grp_n") >= 2L)
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
      .localCheckpoint(eager = true)
    groups.unpersist(blocking = false)
    shRepArr.unpersist(blocking = false)
    bandDf.unpersist(blocking = false)
    out
  }

  /** (id_a, id_b, n_inter, n_a, n_b) for candidate pairs from shingle
    * rows — the shared core of every set-overlap verifier. The
    * composite-key equi-join (id_b, shingle) makes the hash join emit
    * only actual intersections; joining on id alone and post-filtering
    * the shingle equality would materialize |cand| × |sh_a| × |sh_b|
    * rows. */
  private def intersectCounts(cand: DataFrame, shingles: DataFrame): DataFrame =
    intersectCountsWith(cand, shingles,
      shingles.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh")))

  /** [[intersectCounts]] with the per-doc set sizes supplied by the
    * caller — so an arrays-holding caller can derive them map-side
    * (size of the array) instead of re-aggregating the exploded
    * relation. `counts` must be (doc_id, n_sh) with n_sh long. */
  private def intersectCountsWith(cand: DataFrame, shingles: DataFrame,
                                  counts: DataFrame): DataFrame =
    cand
      .join(shingles.select(col("doc_id").as("id_a"), col("shingle")), Seq("id_a"))
      .join(shingles.select(col("doc_id").as("id_b"), col("shingle")), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(counts.select(col("doc_id").as("id_a"), col("n_sh").as("n_a")), Seq("id_a"))
      .join(counts.select(col("doc_id").as("id_b"), col("n_sh").as("n_b")), Seq("id_b"))

  private def jaccardFrom(ic: DataFrame, threshold: Double): DataFrame =
    ic.select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
         (col("n_a") + col("n_b") - col("n_inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Exact Jaccard for candidate pairs from shingle rows (shuffle joins
    * keyed on shingle set membership — no cross product). */
  def verifyJaccard(cand: DataFrame, shingles: DataFrame,
                    threshold: Double): DataFrame =
    jaccardFrom(intersectCounts(cand, shingles), threshold)

  /** CONTAINMENT near-dup pairs: |A∩B| / min(|A|,|B|) ≥ threshold.
    * Catches the asymmetric duplicates symmetric Jaccard misses — a
    * short document embedded verbatim in a much longer one has Jaccard
    * ≈ |A|/|B| (tiny) but containment 1.0; quote-expansion and
    * boilerplate-wrapped reposts are exactly this shape.
    *
    * Candidates come from RARE-SHINGLE BLOCKING, not minhash bands: a
    * contained doc's slot-agreement probability is ≈ its (tiny)
    * Jaccard, so band LSH systematically misses exactly the pairs this
    * operator exists for. Instead, two docs are candidates iff they
    * share a shingle whose document frequency is ≤ `maxDf` — a
    * contained doc shares ALL its shingles with its host, so any
    * non-boilerplate shingle in it surfaces the pair (only a doc built
    * entirely of df>maxDf boilerplate hides, and those are q66's
    * problem, not a dup's). The rare-postings self-join is bounded by
    * df·(df-1)/2 ≤ maxDf²/2 pairs per rare shingle — no pair space,
    * and the df filter is one combinable aggregate over the postings.
    * Output: (id_a, id_b, containment). */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, maxDf: Int = 5,
                       threshold: Double = 0.8): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rare = sh.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf && col("df") >= 2)
      .select(col("shingle"))
    // feeds both sides of the candidate self-join — persist or the df
    // aggregate + postings join runs twice
    val rarePostings = sh.join(rare, Seq("shingle"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = rarePostings.select(col("shingle"), col("doc_id").as("id_a"))
      .join(rarePostings.select(col("shingle"), col("doc_id").as("id_b")),
        Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val out = intersectCounts(cand, sh)
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
         least(col("n_a"), col("n_b")).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
      .localCheckpoint(eager = true)
    rarePostings.unpersist(blocking = false)
    sh.unpersist(blocking = false)
    out
  }

  /** Near-dup pairs between a NEW batch and an already-processed corpus
    * — the incremental-crawl shape: dedupe incoming documents against
    * everything ingested so far without touching the corpus text.
    * Candidates come from the batch-bands ⋈ corpus-bands equi-join
    * (shuffle sized by the batch plus colliding corpus rows, never the
    * corpus pair space); verification is SIGNATURE AGREEMENT — the
    * fraction of matching minhash slots, the standard unbiased Jaccard
    * estimator — rather than exact shingle Jaccard, because the
    * incremental path must work from stored signatures alone
    * ([[graft.operators.NearDupIndex]] persists signatures and band
    * keys, not text; re-shingling the corpus would re-read 100 TB per
    * batch). Batch-internal duplicates are [[minhashLsh]]'s job.
    * Output: (new_id, corpus_id, est_jaccard ≥ minEst). */
  def minhashLshAcross(batch: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String,
                       shingleN: Int = 3, k: Int = 8, bands: Int = 2,
                       minEst: Double = 0.5): DataFrame = {
    require(bands >= 1 && k % bands == 0,
      s"k must divide into bands (got k=$k, bands=$bands)")
    // each side's signatures feed its band derivation AND the estimate
    // join: materialize once per side. Map-side signing over per-doc
    // shingle arrays (r15, guide §2.4) — no explode+groupBy exchange;
    // the checkpoint keeps the k·|shingles| md5 pass at once per side.
    // The persist() on the ARRAYS is an optimizer boundary, not a
    // reuse cache: without it, the empty-array filter inside
    // minhashSignaturesFromArrays pushes through the _toks staging
    // projection, substituting tokens(text) into every element_at
    // lambda — the NOTES.md O(tokens²) re-evaluation trap (measured
    // 6.9 s of q116's 9.8 s before this boundary). The cache
    // materializes inside the signature checkpoint's one pass and is
    // dropped right after.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bArr = shingleArrays(batch, idCol, textCol, shingleN).persist(lvl)
    val cArr = shingleArrays(corpus, idCol, textCol, shingleN).persist(lvl)
    val bs = minhashSignaturesFromArrays(bArr, k).localCheckpoint(eager = true)
    val cs = minhashSignaturesFromArrays(cArr, k).localCheckpoint(eager = true)
    bArr.unpersist(blocking = false)
    cArr.unpersist(blocking = false)
    sigEstimatePairs(bs, lshBands(bs, bands, k / bands),
                     cs, lshBands(cs, bands, k / bands), k, minEst)
  }

  /** The three pair sets an incremental near-dup maintenance step
    * consumes — (corpus-internal, batch×corpus, batch-internal) —
    * from ONE shingle pass and ONE signature aggregation over the
    * whole document set, split by the `isBatch` predicate afterwards.
    * Calling [[minhashLsh]](corpus) + [[minhashLshAcross]](batch,
    * corpus) + [[minhashLsh]](batch) separately signs the corpus twice
    * and the batch twice; signing (explode + k-way min aggregate over
    * every shingle) dominates near-dup wall time, so the fused form
    * halves it. Pair semantics are EXACTLY the separate calls':
    * same-side pairs are exact-Jaccard-verified against the shingle
    * table (the full table serves both sides — a candidate pair's ids
    * pin the join, foreign rows cannot match), cross pairs are
    * signature-agreement estimates (the stored-signature contract).
    * A null `isBatch` counts as corpus. */
  def incrementalPairSets(docs: DataFrame, idCol: String, textCol: String,
                          isBatch: Column, shingleN: Int = 3, k: Int = 8,
                          bands: Int = 2, threshold: Double = 0.5)
      : (DataFrame, DataFrame, DataFrame) = {
    require(bands >= 1 && k % bands == 0,
      s"k must divide into bands (got k=$k, bands=$bands)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ONE tokenize/shingle pass into per-doc arrays with the batch tag
    // riding along — map-side signing (r15, guide §2.4): the old shape
    // paid the explode+groupBy signature exchange plus a doc-sized tag
    // join; here both disappear and only candidate/verify joins shuffle
    val shArr = docs.select(col(idCol).as("doc_id"),
        coalesce(isBatch, lit(false)).as("_b"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_b"),
        graft.functions.TextFunctions
          .wordShinglesFromTokens(col("_toks"), shingleN).as("shingles"))
      .persist(lvl)
    val sig = minhashSignaturesFromArrays(shArr, k, carry = Seq("_b"))
      .persist(lvl)
    val sigB = sig.filter(col("_b")).drop("_b")
    val sigC = sig.filter(!col("_b")).drop("_b")
    val bandB = lshBands(sigB, bands, k / bands).persist(lvl)
    val bandC = lshBands(sigC, bands, k / bands).persist(lvl)
    val corpusPairs = minhashLshFromArrays(shArr, bandC, threshold)
      .localCheckpoint(eager = true)
    val crossPairs = sigEstimatePairs(sigB, bandB, sigC, bandC, k, threshold)
      .select(col("new_id"), col("corpus_id"))
      .localCheckpoint(eager = true)
    val batchPairs = minhashLshFromArrays(shArr, bandB, threshold)
      .localCheckpoint(eager = true)
    shArr.unpersist(blocking = false)
    sig.unpersist(blocking = false)
    bandB.unpersist(blocking = false)
    bandC.unpersist(blocking = false)
    (corpusPairs, crossPairs, batchPairs)
  }

  /** The batch-touching two-thirds of [[incrementalPairSets]]: cross
    * (batch × corpus, slot-agreement estimate) and batch-internal
    * (exact-Jaccard-verified) pairs from the same fused signing pass —
    * WITHOUT the corpus-internal band self-join, which an incremental
    * caller already has as stored cluster state. This is the timed
    * shape of an increment: the corpus is scanned once for signatures
    * (the persistent [[NearDupIndex]] skips even that by reading its
    * stored band tables), but the corpus-sized candidate join and its
    * verify never run. */
  def incrementalBatchPairs(docs: DataFrame, idCol: String, textCol: String,
                            isBatch: Column, shingleN: Int = 3, k: Int = 8,
                            bands: Int = 2, threshold: Double = 0.5)
      : (DataFrame, DataFrame) = {
    require(bands >= 1 && k % bands == 0,
      s"k must divide into bands (got k=$k, bands=$bands)")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // map-side signing over tagged per-doc arrays — see
    // [[incrementalPairSets]] (r15, guide §2.4)
    val shArr = docs.select(col(idCol).as("doc_id"),
        coalesce(isBatch, lit(false)).as("_b"),
        graft.functions.TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), col("_b"),
        graft.functions.TextFunctions
          .wordShinglesFromTokens(col("_toks"), shingleN).as("shingles"))
      .persist(lvl)
    val sig = minhashSignaturesFromArrays(shArr, k, carry = Seq("_b"))
      .persist(lvl)
    val sigB = sig.filter(col("_b")).drop("_b")
    val sigC = sig.filter(!col("_b")).drop("_b")
    val bandB = lshBands(sigB, bands, k / bands).persist(lvl)
    val bandC = lshBands(sigC, bands, k / bands)
    val crossPairs = sigEstimatePairs(sigB, bandB, sigC, bandC, k, threshold)
      .select(col("new_id"), col("corpus_id"))
      .localCheckpoint(eager = true)
    val batchPairs = minhashLshFromArrays(shArr, bandB, threshold)
      .localCheckpoint(eager = true)
    shArr.unpersist(blocking = false)
    sig.unpersist(blocking = false)
    bandB.unpersist(blocking = false)
    (crossPairs, batchPairs)
  }

  /** The shared cross-corpus scorer over (signature, band) tables —
    * [[minhashLshAcross]] passes freshly-computed ones, the persistent
    * [[graft.operators.NearDupIndex]] passes its stored tables, so
    * candidate generation and the slot-agreement estimate cannot
    * silently diverge between the computed and stored paths. The final
    * distinct is pair-sized and collapses the duplicate rows an
    * at-least-once index ingest can leave. */
  private[operators] def sigEstimatePairs(batchSig: DataFrame,
                                          batchBands: DataFrame,
                                          corpusSig: DataFrame,
                                          corpusBands: DataFrame,
                                          k: Int, minEst: Double): DataFrame = {
    val cand = batchBands
      .select(col("band"), col("band_key"), col("doc_id").as("new_id"))
      .join(corpusBands.select(col("band"), col("band_key"),
                               col("doc_id").as("corpus_id")),
            Seq("band", "band_key"))
      // a batch doc replayed with an id the corpus already has would
      // otherwise report itself as its own near-dup (est = 1.0)
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"))
      .distinct()
    val a = batchSig.select(
      col("doc_id").as("new_id") +:
        (0 until k).map(j => col(s"h$j").as(s"a_h$j")): _*)
    val b = corpusSig.select(
      col("doc_id").as("corpus_id") +:
        (0 until k).map(j => col(s"h$j").as(s"b_h$j")): _*)
    val nMatch = (0 until k)
      .map(j => when(col(s"a_h$j") === col(s"b_h$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(a, Seq("new_id")).join(b, Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        (nMatch.cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      .distinct()
  }

  /** Connected components over near-dup pairs → duplicate clusters with
    * the min-id member as the canonical document (what a dedup pipeline
    * actually drops rows by). Iterative min-label propagation: each
    * round every node takes the min label among itself and its
    * neighbors; converges in ≤ graph-diameter rounds (dup clusters are
    * tiny — pairs/triples — so 2-3 rounds in practice). Per-round cost
    * is ONE equi-join + one aggregate, both shuffle-keyed on the node
    * id, and ONE action: the old label travels alongside the new one so
    * convergence is a count over the already-materialized round output —
    * no separate compare-join job per round.
    *
    * Input: (id_a, id_b) pairs. Output: (doc_id, cluster_id) for every
    * node that appears in some pair. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // persist the pair source BEFORE the two-orientation union: the
    // union's branches are separate subtrees to Spark, so an unpersisted
    // `pairs` (often a whole LSH pipeline) would be computed twice when
    // `edges` first materializes (measured 2× on q44)
    val p = pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint, not persist: every round's plan references the
    // edge table, and each round's labels reference the previous round
    // TWICE (via neighborMin and directly) — with an un-truncated
    // lineage the analyzed plan doubles per round and the base plan
    // (often a whole LSH pipeline full of hyperplane literals) rides
    // along in every copy. q126 hit a 2 GiB plan string and OOMed the
    // driver before any data moved. Checkpointing makes edges a leaf
    // and each round's labels a leaf, so plan size is constant per
    // round. The materialization cost is the same the old persist+count
    // already paid.
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(eager = true)
    p.unpersist(blocking = false) // edges is materialized; pairs cache done
    val labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .withColumn("old", col("id"))
      .localCheckpoint(eager = true)
    // the init materialization doubles as a size probe: when the label
    // table fits in a broadcast (node count ≪ corpus — the normal LSH
    // outcome), hint both per-round joins broadcast so a round is one
    // map-side job instead of shuffle+sort stages; past the limit the
    // rounds fall back to shuffle joins (the 100 TB path)
    val nNodes = labels.count()
    // SMALL-graph fast path: an incremental merge's touched subgraph
    // (mergeClustersDelta) is batch-sized, and the iterative loop's
    // per-round jobs are pure overhead there — the driver union-find
    // answers in one collect. Gated like the broadcast hint: edge count
    // is read off the already-materialized checkpoint (free), the cap
    // bounds driver memory (1M edges of longs ≈ 32 MB), Long ids only
    // (string min-label must match Spark's UTF8 ordering — the loop
    // handles those), and past the gate the distributed loop IS the
    // path, so the 100 TB shape is unchanged. Union by min root =
    // min-label-of-component, identical to the loop's fixpoint.
    if (nNodes <= broadcastNodeLimit &&
        edges.schema("src").dataType ==
          org.apache.spark.sql.types.LongType &&
        edges.count() <= 2L * driverSolveEdgeLimit) {
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != r) {
          val n = parent.get(c); parent.put(c, r); c = n
        }
        r
      }
      val rows = edges.collect()
      rows.foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val nodes = rows.iterator.map(_.getLong(0)).toSet // both orientations
      val spark = pairs.sparkSession
      import spark.implicits._
      return nodes.iterator.map(n => (n, find(n))).toSeq
        .toDF("doc_id", "cluster_id")
    }
    ccLoop(edges, labels, nNodes, maxIter)
  }

  /** The distributed label-propagation + pointer-jump loop — the
    * 100 TB path past the driver union-find gate. Package-private so
    * the convergence-guard spec can drive it DIRECTLY on a small
    * path graph: below the gates [[connectedComponents]] always takes
    * the driver path (which cannot fail to converge), so the
    * maxIter throw contract would otherwise be untestable without a
    * million-node fixture. `edges` must hold both orientations and be
    * materialized (checkpointed); `labels0` the (id, label, old)
    * identity init over its nodes; `nNodes` the node count. */
  private[operators] def ccLoop(edges: DataFrame, labels0: DataFrame,
                                nNodes: Long, maxIter: Int): DataFrame = {
    var labels = labels0
    val hinted: DataFrame => DataFrame =
      if (nNodes <= broadcastNodeLimit) broadcast(_) else identity
    var converged = false
    var iter = 0
    // the working edge set, CONTRACTED to label space after every
    // round: an edge inside an already-merged cluster relabels to a
    // self-loop and disappears, so a DENSE dup graph (a threshold that
    // accepts a constant fraction of same-bucket pairs produces
    // Θ(n²) edges — q126 at 10× data hit 144M edges over 20k nodes)
    // collapses to a few inter-representative edges after round 1
    // instead of re-joining the full pair table every round. Members
    // of a contracted cluster keep converging through the pointer
    // jump below (their label indexes the representative's row).
    // Contraction never changes the result: nodes sharing a label are
    // provably in one component, and merging them preserves the
    // component structure of the rest of the graph.
    var cedges = edges
    while (!converged && iter < maxIter) {
      iter += 1
      val neighborMin = cedges
        .join(hinted(labels.select(col("id").as("dst"), col("label"))), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      // checkpointed: prop feeds BOTH sides of the pointer-jump
      // self-join — unmaterialized, the neighbor-min join+aggregate
      // would run twice per round
      val prop = labels.select(col("id"), col("label").as("old"))
        .join(hinted(neighborMin), Seq("id"), "left")
        .select(col("id"),
          least(col("old"), coalesce(col("nbr_label"), col("old"))).as("l1"),
          col("old"))
        .localCheckpoint(eager = true)
      // pointer jump: follow the candidate label to ITS candidate label
      // (labels are node ids, so l1 indexes back into this round's own
      // table). Plain neighbor-min needs diameter rounds — a 330-pair
      // embedding graph already produced a chain past maxIter=10; with
      // the jump the unresolved chain halves per round (O(log diameter)).
      // l2 ≤ l1 always (labels are min-monotone), so least() is exact.
      // eager checkpoint materializes the round; the convergence count
      // then runs over the checkpointed blocks, not a recompute
      val next = prop
        .join(hinted(prop.select(col("id").as("l1"), col("l1").as("l2"))),
              Seq("l1"), "left")
        .select(col("id"),
          least(col("l1"), coalesce(col("l2"), col("l1"))).as("label"),
          col("old"))
        .localCheckpoint(eager = true)
      converged = next.filter(col("label") =!= col("old")).count() == 0
      labels = next
      if (!converged) {
        // contract: relabel both endpoints, drop in-cluster self-loops,
        // dedupe — the distinct is one shuffle over an edge set that
        // only ever shrinks, and after round 1 a dense cluster's Θ(n²)
        // internal edges are gone
        cedges = cedges
          .join(hinted(next.select(col("id").as("src"), col("label").as("_sl"))),
            Seq("src"))
          .join(hinted(next.select(col("id").as("dst"), col("label").as("_dl"))),
            Seq("dst"))
          .select(col("_sl").as("src"), col("_dl").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
          .localCheckpoint(eager = true)
      }
    }
    // silent truncation would be WRONG RESULTS (one component reported
    // as several clusters) flowing into persisted indexes and the
    // mergeClusters value-equality contract — fail loudly instead.
    // Pointer jumping converges in O(log diameter), so maxIter=10
    // covers diameters to ~2^10; a caller with a longer chain raises it.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
      "component diameter exceeds 2^maxIter; raise maxIter")
    // one row per node in some dup pair; the checkpointed round output
    // is already materialized and lineage-free, so intermediate blocks
    // (including the LSH pipeline behind `pairs`) are reclaimable by the
    // ContextCleaner as each round's reference drops
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Above this node count the per-round label joins stop broadcasting
    * and fall back to shuffle joins (a broadcast of the label table
    * must fit executor memory; 1M (id,label) longs ≈ 16 MB). */
  private val broadcastNodeLimit = 1000000L

  /** Above this edge count [[connectedComponents]] skips the driver
    * union-find fast path and runs the distributed loop (1M edges of
    * long pairs ≈ 32 MB collected — the same order as a gated label
    * broadcast). */
  private val driverSolveEdgeLimit = 1000000L

  /** Incremental cluster maintenance: fold a new batch of near-dup
    * pairs into stored cluster labels WITHOUT recomputing the full
    * graph. Returns labels for the AFFECTED SLICE only — every member
    * of a stored cluster that a new pair touches, plus every node of a
    * new pair — so the caller can append it as a last-wins delta
    * ([[graft.gdl.TableStore.readLatestBy]]) in O(affected) instead of
    * rewriting an O(corpus) label table per batch.
    *
    * Correctness: each affected stored cluster is re-entered as star
    * edges (member → cluster_id); the cluster_id is itself the min
    * member id, so the stars carry exactly the old connectivity and the
    * old min. Components of (stars ∪ newPairs) therefore equal the
    * components of (oldPairs ∪ newPairs) restricted to the affected
    * slice, and the recomputed label is the true min over the merged
    * node set. Unaffected clusters never enter the computation at all.
    *
    * Scale: `touched` is pair-batch-sized, `affected` is bounded by the
    * touched clusters' membership (dup clusters are tiny in practice),
    * and every step is an equi-join keyed on doc/cluster id — no
    * corpus-sized scan except the one column scan of `stored` that any
    * label lookup needs (a persistent index prunes THAT with zone maps).
    *
    * Input: stored (doc_id, cluster_id); newPairs (id_a, id_b).
    * Output: (doc_id, cluster_id) for the affected slice. */
  def mergeClustersDelta(stored: DataFrame, newPairs: DataFrame,
                         maxIter: Int = 10): DataFrame = {
    // pair batch feeds the touched probe AND the merged edge set —
    // checkpoint so an expensive pair source (an LSH query) runs once
    val p = newPairs.select(col("id_a"), col("id_b"))
      .localCheckpoint(eager = true)
    val touched = p.select(col("id_a").as("doc_id"))
      .union(p.select(col("id_b").as("doc_id")))
      .distinct()
    // the probes are batch-sized in the normal incremental flow, but a
    // caller CAN pass a giant backfill batch — gate the broadcast on
    // the materialized pair count (free: p is already checkpointed)
    // the same way connectedComponents gates its label joins
    val hinted: DataFrame => DataFrame =
      if (p.count() * 2 <= broadcastNodeLimit) broadcast(_) else identity
    // clusters with any touched member
    val affectedClusters = stored
      .join(hinted(touched), Seq("doc_id"))
      .select(col("cluster_id")).distinct()
    val affectedMembers = stored
      .join(hinted(affectedClusters), Seq("cluster_id"))
    // star edges re-enter each affected cluster's connectivity; the
    // (cluster_id, cluster_id) self-row carries nothing and is skipped
    val stars = affectedMembers
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("id_a"), col("cluster_id").as("id_b"))
    connectedComponents(stars.union(p), maxIter)
  }

  /** [[mergeClustersDelta]] plus the pass-through of unaffected stored
    * rows — the full merged label table, value-equal to running
    * [[connectedComponents]] over the union of the old and new pair
    * sets. Use the delta form when the labels live in a last-wins
    * store; use this when the caller wants the whole view. */
  def mergeClusters(stored: DataFrame, newPairs: DataFrame,
                    maxIter: Int = 10): DataFrame = {
    val delta = mergeClustersDelta(stored, newPairs, maxIter)
    // anti-join on doc_id, not cluster_id: delta labels supersede the
    // stored row for every node it covers (losing clusters keep their
    // old cluster_id only on rows the delta does not re-emit — none)
    val unaffected = stored.join(delta.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    unaffected.select(col("doc_id"), col("cluster_id")).union(delta)
  }

  /** 16-bit SimHash fingerprint per document: for each bit position the
    * sign of Σ_tokens (2·bit(hash16(token)) − 1). Kept at 16 bits so the
    * oracle SQL stays writable; the production variant would widen the
    * same construction to 64 bits. */
  def simhash16(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
                          explode(tokens(col(textCol))).as("token"))
      .withColumn("h", hash16(col("token")))
    val bitSums = (0 until 16).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s$b"))
    val fused = (0 until 16).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), fused.as("simhash"))
  }

  /** SimHash near-dup pairs within Hamming distance ≤ 1, by multiprobe:
    * each doc probes its own fingerprint plus every 1-bit flip (17 keys
    * at 16 bits), candidates come from the probe↔identity equi-join —
    * the Hamming-ball analogue of the ANN multiprobe (Similarity.annTopK
    * probeHamming1). A pair at distance d ≤ 1 collides on EXACTLY one
    * probe key (identity for d=0, the flipped bit for d=1), so the join
    * emits each pair once; no n² pair space anywhere. The probe explode
    * multiplies the (doc, fingerprint) table by nBits+1 — at 64
    * production bits that is 65 small rows per doc, still corpus-scan
    * dominated. Output: (id_a, id_b, hamming ≤ 1). */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the fingerprint aggregation feeds both join sides: materialize once
    val sh = simhash16(docs, idCol, textCol).localCheckpoint(true)
    val probes = sh.select(col("doc_id").as("id_a"), col("simhash").as("h_a"),
      explode(array(
        (0 until 16).map(j => col("simhash").bitwiseXOR(lit(1L << j))) :+
          col("simhash"): _*)).as("probe"))
    val idn = sh.select(col("doc_id").as("id_b"), col("simhash").as("h_b"),
      col("simhash").as("probe"))
    probes.join(idn, Seq("probe"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
  }

  /** [[simhashNearDup]] at production width: 64-bit fingerprints
    * (xxhash64 tokens, map-only per-row SimHash — no explode+groupBy
    * stage at all), 65 probe keys per doc. Same exactly-one-collision
    * argument; the probe explode is 65 small (probe, id, fingerprint)
    * rows per doc, still corpus-scan dominated. Spec-verified against
    * brute Hamming (Simhash64Spec) — the 16-bit form keeps the DuckDB
    * oracle, this one keeps the production bit budget. */
  def simhashNearDup64(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.TextFunctions.{simhash64FromHashes, tokenHashes64}
    val sh = docs
      .withColumn("_hs", tokenHashes64(col(textCol)))
      .select(col(idCol).as("doc_id"), simhash64FromHashes(col("_hs")).as("simhash"))
      .localCheckpoint(true)
    val probes = sh.select(col("doc_id").as("id_a"), col("simhash").as("h_a"),
      explode(array(
        (0 until 64).map(j => col("simhash").bitwiseXOR(lit(1L << j))) :+
          col("simhash"): _*)).as("probe"))
    val idn = sh.select(col("doc_id").as("id_b"), col("simhash").as("h_b"),
      col("simhash").as("probe"))
    probes.join(idn, Seq("probe"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed: candidates
    * come from an equi-join on the hyperplane bucket (map-only
    * assignment, no cross product), then exact cosine filters. Same
    * trade as MinHash-LSH: recall < 1 for pairs whose signs straddle a
    * plane, ~4^-planes reduction in compared pairs.
    * Input: (id, embedding). Output: (id_a, id_b, bucket, sim). */
  def embeddingNearDup(vecs: DataFrame, threshold: Double,
                       nPlanes: Int, dim: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val withBucket = vecs.select(
      col("id"), col("embedding"),
      hyperplaneBucket(col("embedding"), nPlanes, dim).as("bucket"),
      norm(col("embedding")).as("nrm"))
    val a = withBucket.select(col("bucket"), col("id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = withBucket.select(col("bucket"), col("id").as("id_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("bucket"),
        (when(col("nrm_a") * col("nrm_b") === 0.0, lit(0.0))
        .otherwise(dot(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Mean-center an embedding table — the standard preprocessing that
    * makes hyperplane LSH (and a cosine threshold) actually selective
    * on an all-positive embedding space. Raw encoder outputs often
    * live in one orthant; there, pairwise cosine concentrates near its
    * (high) mean — measured on the synthetic corpus: MEDIAN pairwise
    * cosine 0.94 — so every threshold either accepts Θ(n²) pairs or
    * nothing, and every random hyperplane assigns most vectors the
    * same side (the LSH gate stops gating). Subtracting the corpus
    * mean restores contrast: background pairs drop to ≈0 cosine,
    * true duplicates stay at 1.0.
    *
    * Engine-exactness (the oracle recomputes this): the mean is NOT a
    * float average (accumulation order differs across engines — a
    * one-ulp mean difference flips bucket codes near a hyperplane).
    * Each element is quantized to the 1e-9 long grid, summed exactly,
    * divided by the count as integers — Spark's `div` and DuckDB's
    * integer `//` BOTH truncate toward zero (verified empirically:
    * DuckDB 1.0 gives −7 // 2 = −3; ADVICE r6 suspected a floor/
    * truncate split, DedupSpec pins the negative-sum parity) — and the
    * centered value is `x − mean_q/1e9`: every step reproducible
    * bit-for-bit in any engine. One tiny aggregate row, broadcast; the
    * centering itself is map-only. */
  def centerEmbeddings(vecs: DataFrame, dim: Int): DataFrame =
    centerWith(vecs, quantizedSums(vecs, dim), dim)

  /** The one-row exact-grid sum table feeding [[centerWith]]:
    * (_n, _s1.._sdim) with each _si the exact long sum of
    * floor(x·1e9). Split out so a FROZEN corpus mean can center a
    * different table (the decontam benchmark side, an incremental
    * batch) with the indexed corpus's own mean — the frozen-quantizer
    * discipline: codes stay comparable across tables and time. */
  def quantizedSums(vecs: DataFrame, dim: Int): DataFrame =
    vecs.agg(
      count(lit(1)).as("_n"),
      (1 to dim).map(i =>
        sum(floor(element_at(col("embedding"), i).cast("double") * 1e9)
          .cast("long")).as(s"_s$i")): _*)

  /** Subtract the grid mean carried by `sums` from every vector. */
  def centerWith(vecs: DataFrame, sums: DataFrame, dim: Int): DataFrame =
    vecs.crossJoin(broadcast(sums))
      .select(col("id"),
        array((1 to dim).map(i =>
          element_at(col("embedding"), i).cast("double") -
            (expr(s"_s$i div _n").cast("double") / 1e9)): _*).as("embedding"))

  /** Collect a frozen [[quantizedSums]] row into the literal
    * per-dimension grid mean it encodes — the driver-side form of the
    * stored index artifact, for plans where even a broadcast 1-row
    * mean join is wrong: on a STREAM the crossJoin becomes a
    * BroadcastNestedLoopJoin whose generated consume inlines all `dim`
    * centering expressions and blows Janino's 64 KB method limit
    * (observed in the r8 streaming decontam gate). Arithmetic is
    * bit-identical to [[centerWith]]'s SQL: `_si div _n` is a
    * truncating long division on both engines and the JVM, then /1e9. */
  def gridMean(sums: DataFrame, dim: Int): Array[Double] = {
    val r = sums.collect()(0)
    val n = r.getAs[Long]("_n")
    (1 to dim).map { i =>
      if (n == 0L) 0.0
      else (r.getAs[Long](s"_s$i") / n).toDouble / 1e9
    }.toArray
  }

  /** [[centerWith]] with the mean as a driver-side literal array:
    * zero joins and LOOP-SHAPED (one zip_with regardless of `dim`), so
    * whole-stage codegen stays O(1) in dimension — the same discipline
    * as [[graft.functions.VectorFunctions.bandKeys]]. Each element is
    * cast(float→double) minus the identical (s div n)/1e9 double, so
    * outputs match [[centerWith]] bit-for-bit on dim-length vectors. */
  def centerWithMean(vecs: DataFrame, mean: Array[Double]): DataFrame =
    vecs.select(col("id"),
      zip_with(col("embedding"), lit(mean),
        (x, m) => x.cast("double") - m).as("embedding"))

  /** [[embeddingNearDup]] with the Hamming-1 multiprobe that makes the
    * plane count a FREE scale knob: with plain AND-bucketing the pair
    * space is ~n²/2^planes but recall decays as p^planes (p = 1−θ/π),
    * so 2 planes was the only usable point — and 2 planes means 4
    * buckets, a bucket self-join that is n²/4 BY CONSTRUCTION (the
    * 10× stress run measured q129 at 47× cost for 10× rows). Probing
    * every 1-bit flip recovers the pairs that straddle exactly one
    * hyperplane: recall becomes p^k + k·p^(k−1)(1−p), which at k=8
    * matches the 2-plane curve while the candidate space drops to
    * ~(k+1)·n²/2^k — 7× less work at the same recall, and the knob
    * now scales (production picks k ≈ log2(n/targetBucket), probes
    * keep the recall). The q75 SimHash discipline gives exactly-once
    * pairs: side A keys by its own code, side B by its code PLUS every
    * 1-bit flip, so a pair at code distance ≤ 1 collides on EXACTLY
    * one key and `id_a < id_b` kills the mirror orientation. Verify is
    * exact cosine. Output: (id_a, id_b, sim ≥ threshold). */
  def embeddingNearDupProbed(vecs: DataFrame, threshold: Double,
                             nPlanes: Int, dim: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val withCode = vecs.select(
      col("id"), col("embedding"),
      hyperplaneBucket(col("embedding"), nPlanes, dim).as("code"),
      norm(col("embedding")).as("nrm"))
    val a = withCode.select(col("code").as("key"), col("id").as("id_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val flips = lit(0L) +: (0 until nPlanes).map(j => lit(1L << j))
    val b = withCode.select(col("id").as("id_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"),
        explode(array(flips.map(f => col("code").bitwiseXOR(f)): _*)).as("key"))
    a.join(b, Seq("key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (when(col("nrm_a") * col("nrm_b") === 0.0, lit(0.0))
        .otherwise(dot(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** [[embeddingNearDupProbed]] with the plane count DERIVED from the
    * corpus size — the knob that must turn at scale: k =
    * ceil(log2(n / targetBucket)), so expected bucket occupancy stays
    * ~`targetBucket` as the corpus grows and the candidate space stays
    * ~(k+1)·n·targetBucket instead of going quadratic once data
    * outgrows whatever constant a caller tuned (exactly how the fixed
    * 2-plane family failed the 10× stress run). Recall follows the
    * probe structure, not k alone — Hamming-1 probing holds the
    * per-pair collision curve as k rises (see the probed scaladoc) —
    * and DedupSpec measures occupancy AND recall across three corpus
    * sizes. The input is checkpointed (the probed join reads it twice
    * anyway), making the sizing count a free read of materialized
    * state. */
  def embeddingNearDupAuto(vecs: DataFrame, threshold: Double, dim: Int,
                           targetBucket: Long = 64L,
                           minPlanes: Int = 2): DataFrame = {
    val v = vecs.localCheckpoint(eager = true)
    embeddingNearDupProbed(v, threshold,
      autoPlanes(v.count(), targetBucket, minPlanes), dim)
  }

  /** k = max(minPlanes, ceil(log2(ceil(n / targetBucket)))), capped at
    * 62 — INTEGER arithmetic only, so any engine derives the identical
    * k from the same count (a float log2 can land on either side of an
    * exact power of two; q144's oracle recomputes this in SQL). */
  private[graft] def autoPlanes(n: Long, targetBucket: Long,
                                minPlanes: Int): Int = {
    val m = (n + targetBucket - 1) / targetBucket // ceil(n / target)
    val k = (0 to 62).find(j => (1L << j) >= m).getOrElse(62)
    k.max(minPlanes).min(62)
  }

  /** THE default entry point for embedding-level dedup clustering —
    * callers should reach for this, and drop to the direct
    * pairs→[[connectedComponents]] plan only when the corpus is KNOWN
    * exact-dup-free (q126 keeps that fast case oracle-checked; on such
    * a corpus the collapse degenerates gracefully to the direct plan
    * plus one groupBy — measured 36.0 s vs 34 s at sf1).
    *
    * Runs the exact-identity COLLAPSE a production pipeline needs
    * first: group bit-identical vectors (one hash-groupBy), run the
    * probed near-dup join and the component closure over one
    * REPRESENTATIVE per group, then expand labels back to members.
    * Returns (doc_id, cluster_id) — provably equal to
    * `connectedComponents(embeddingNearDupProbed(centered vecs))`:
    *
    *  - identical vectors share a bucket code (d = 0 always collides),
    *    so the naive graph contains each identity group as a clique —
    *    collapsing the clique to its min-id member preserves
    *    components;
    *  - members are bit-identical to their rep, so a member pair
    *    (a, b) exists iff the rep pair (rep_a, rep_b) exists, with the
    *    same sim — rep pairs ARE the quotient graph;
    *  - the rep is the group's min id, so the component min over reps
    *    equals the component min over members — cluster ids match;
    *  - a group of ≥ 2 members with no external pair is a component by
    *    itself in the naive graph (its internal clique) — emitted with
    *    cluster = rep; a singleton with no pair is emitted by neither.
    *    EXCEPT a zero-norm group under threshold > 0: the probed join
    *    forces sim = 0.0 for zero-norm pairs, so the naive graph has
    *    no internal clique there and emits nothing — the collapsed
    *    plan matches by excluding zero-norm groups from the grp_n ≥ 2
    *    branch (under threshold ≤ 0 those forced-0.0 pairs ARE edges,
    *    so the branch stays; ADVICE r6).
    *
    * Scale: this is what makes near-dup clustering survive a corpus
    * with heavy exact duplication (the 10× stress corpus is 10
    * bit-identical copies of everything): the pair join and the
    * closure run over n_distinct nodes, and the member-level Θ(dup²)
    * pair blowup never materializes. Centering happens BEFORE the
    * collapse, over the full table with multiplicity — the exact mean
    * the naive plan uses. */
  def embeddingDupClusters(vecs: DataFrame, threshold: Double,
                           nPlanes: Int, dim: Int): DataFrame = {
    val centered = centerEmbeddings(vecs, dim)
      .localCheckpoint(eager = true) // feeds the group-by AND the join back
    val groups = centered.groupBy(col("embedding"))
      .agg(min(col("id")).as("rep"), count(lit(1)).as("grp_n"))
      .withColumn("grp_zero",
        !exists(col("embedding"), x => x =!= lit(0.0)))
    val memb = centered.join(groups, Seq("embedding"))
      .select(col("id"), col("rep"), col("grp_n"), col("grp_zero"))
    val reps = centered.join(
      groups.select(col("rep").as("id")), Seq("id"), "left_semi")
    val repCC = connectedComponents(
      embeddingNearDupProbed(reps, threshold, nPlanes, dim)
        .select(col("id_a"), col("id_b")))
      .select(col("doc_id").as("rep"), col("cluster_id"))
    val groupEmits =
      if (threshold > 0.0) col("grp_n") >= 2L && !col("grp_zero")
      else col("grp_n") >= 2L
    memb.join(repCC, Seq("rep"), "left")
      .filter(col("cluster_id").isNotNull || groupEmits)
      .select(col("id").as("doc_id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
  }

  /** Embedding near-dup pairs between a NEW batch and an already-
    * ingested corpus — [[minhashLshAcross]]'s vector-side analogue.
    * The hyperplane family is parameter-determined (data-independent),
    * so batch buckets computed at query time join directly against
    * corpus buckets, and — unlike the minhash path, where only
    * signatures survive — the verify is EXACT cosine, because the
    * embedding itself is what a vector store persists. Consequently
    * corpus-internal ∪ batch-internal ∪ cross pairs IS the full-table
    * pair set exactly (q129 leans on that to share q126's oracle).
    * Output: (new_id, corpus_id, bucket, sim ≥ threshold); a batch id
    * already present in the corpus is not its own near-dup. */
  def embeddingNearDupAcross(batch: DataFrame, corpus: DataFrame,
                             threshold: Double, nPlanes: Int,
                             dim: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    def withBucket(df: DataFrame) = df.select(
      col("id"), col("embedding"),
      hyperplaneBucket(col("embedding"), nPlanes, dim).as("bucket"),
      norm(col("embedding")).as("nrm"))
    val a = withBucket(batch).select(col("bucket"), col("id").as("new_id"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = withBucket(corpus).select(col("bucket"), col("id").as("corpus_id"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("bucket"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"), col("bucket"),
        (when(col("nrm_a") * col("nrm_b") === 0.0, lit(0.0))
        .otherwise(dot(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** [[embeddingNearDupAcross]] with the Hamming-1 multiprobe: the
    * batch side probes its own code plus every 1-bit flip, so the
    * cross pair set is exactly the code-distance-≤-1 pairs spanning
    * the id boundary — the piece that, unioned with the two sides'
    * internal probed sets, reconstitutes the FULL probed pair graph
    * (the incremental-clusters queries lean on that identity). The
    * probe explode runs on the (small) batch side; each qualifying
    * pair collides on exactly one key. */
  def embeddingNearDupAcrossProbed(batch: DataFrame, corpus: DataFrame,
                                   threshold: Double, nPlanes: Int,
                                   dim: Int): DataFrame = {
    import graft.functions.VectorFunctions._
    val c = corpus.select(
      hyperplaneBucket(col("embedding"), nPlanes, dim).as("key"),
      col("id").as("corpus_id"), col("embedding").as("emb_b"),
      norm(col("embedding")).as("nrm_b"))
    val flips = lit(0L) +: (0 until nPlanes).map(j => lit(1L << j))
    val b = batch.select(col("id").as("new_id"),
        col("embedding").as("emb_a"), norm(col("embedding")).as("nrm_a"),
        hyperplaneBucket(col("embedding"), nPlanes, dim).as("code"))
      .select(col("new_id"), col("emb_a"), col("nrm_a"),
        explode(array(flips.map(f => col("code").bitwiseXOR(f)): _*)).as("key"))
    c.join(b, Seq("key"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        (when(col("nrm_a") * col("nrm_b") === 0.0, lit(0.0))
        .otherwise(dot(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster-then-prune. Every vector is assigned to
    * its nearest-cosine centroid ([[Similarity.ivfAssign]] — map-only,
    * centroids as a broadcast array literal), exact cosine runs ONLY
    * within a cell, and a vector is dropped iff a SMALLER id in its
    * cell is ≥ `tau` similar (keep-first: deterministic and
    * replayable; the paper's keep-lowest-centroid-similarity variant
    * is a one-line ORDER change). Output: (id, cid, dropped).
    *
    * Scale: this is the published SemDeDup recipe precisely BECAUSE the
    * cell equi-join bounds the pair space — Σ|cell|² instead of n²;
    * cells are k-means-sized (corpus/k on average), and a skewed hot
    * cell is handled the same way the near-dup band join is (AQE skew
    * split; the cell key is already the shuffle key). */
  def semanticDedup(vecs: DataFrame, centroids: DataFrame,
                    tau: Double): DataFrame = {
    import graft.functions.VectorFunctions._
    val v = vecs.join(Similarity.ivfAssign(vecs, centroids), Seq("id"))
      .select(col("id"), col("cid"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    val hi = v.select(col("cid"), col("id"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"))
    val lo = v.select(col("cid"), col("id").as("id_lo"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val dropped = hi.join(lo, Seq("cid"))
      .filter(col("id_lo") < col("id"))
      .filter(
        (when(col("nrm_a") * col("nrm_b") === 0.0, lit(0.0))
          .otherwise(dot(col("emb_a"), col("emb_b"))
            / (col("nrm_a") * col("nrm_b")))) >= tau)
      .select(col("id")).distinct()
    v.select(col("id"), col("cid"))
      .join(dropped.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /** All-pairs n-gram Jaccard within caller-restricted blocks —
    * verification-scale only (the LSH path is the 100 TB route). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        charN: Int, threshold: Double): DataFrame = {
    val withSh = docs.select(col(idCol).as("doc_id"),
                             charShingles(col(textCol), charN).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = withSh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = withSh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val out = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      // intersect computed once per pair (the helper would do it twice)
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        (col("n_inter").cast("double") /
         ((size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("n_inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(eager = true) // then drop the shingle cache
    withSh.unpersist(blocking = false)
    out
  }
}
