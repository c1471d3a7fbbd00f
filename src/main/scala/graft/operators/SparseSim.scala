package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sparse all-pairs document similarity through an inverted index —
  * tf-idf cosine without a pair space: candidate pairs exist ONLY where
  * two documents share a surviving term, via the postings self-join on
  * the term key (the classic inverted-index layout; same family as the
  * LSH band join, but exact over the pruned term space).
  *
  * The scalability lever is document-frequency pruning: terms with
  * df > maxDf are dropped before the self-join (a term shared by m
  * docs contributes m² pair rows — hubs explode the join, contribute
  * least to cosine contrast, and are exactly what idf down-weights
  * anyway), and df < minDf terms cannot pair at all. Cosine is over
  * the surviving term space on BOTH sides (weights and norms), the
  * standard contract for pruned sparse similarity.
  *
  * Value-exactness: tf/df/N are longs; idf = ln(N/df) is quantized to
  * the 1e-9 grid (libm-ulp discipline); every per-pair product
  * w_a·w_b and per-doc square w² is floor-quantized to a 1e-9-grid
  * long BEFORE its sum, so dot products and norms are order-free;
  * sqrt is IEEE-correctly-rounded in any engine.
  */
object SparseSim {

  /** @return (doc_a, doc_b, n_shared, cosine ≥ threshold) pairs over
    *         word-`n`-gram terms with df ∈ [minDf, maxDf] */
  def allPairsCosine(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, minDf: Long = 2L, maxDf: Long = 10L,
                     threshold: Double = 0.3): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("_toks"))
    val tf = base
      .select(col("doc_id"),
        explode(transform(
          // short-doc guard is load-bearing: sequence(1, 0) is the
          // DESCENDING [1, 0], not empty — unguarded, any doc with
          // < n tokens evaluates element_at past the array end (a
          // runtime error); null positions → explode emits no rows
          when(size(col("_toks")) >= n,
            sequence(lit(1), size(col("_toks")) - (n - 1))),
          i => concat_ws(" ", (0 until n).map(k => element_at(col("_toks"), i + k)): _*)))
          .as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val idf = floor(log(col("n_docs").cast("double") / col("df").cast("double"))
      * 1e9).cast("long").cast("double") / 1e9
    val weights = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        (col("tf").cast("double") * idf).as("w"))
      // a term in EVERY doc has idf 0 (and quantization floors
      // idf < 1e-9 to 0): zero-weight terms add nothing to any dot
      // product but would zero a norm — drop them
      .filter(col("w") > 0.0)
      .persist(StorageLevel.MEMORY_AND_DISK) // feeds norms + both join sides
    val norms = weights
      .select(col("doc_id"), floor(col("w") * col("w") * 1e9).cast("long").as("sq"))
      .groupBy(col("doc_id"))
      .agg(sqrt(sum(col("sq")).cast("double") / 1e9).as("norm"))
    val pairs = weights.select(col("term"), col("doc_id").as("doc_a"), col("w").as("wa"))
      .join(weights.select(col("term"), col("doc_id").as("doc_b"), col("w").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        floor(col("wa") * col("wb") * 1e9).cast("long").as("p"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"), sum(col("p")).as("dot"))
    val out = pairs
      .join(norms.select(col("doc_id").as("doc_a"), col("norm").as("na")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("norm").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        ((col("dot").cast("double") / 1e9) / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
      .localCheckpoint(eager = true) // pair-list sized; then drop the cache
    weights.unpersist(blocking = false)
    out
  }
}
