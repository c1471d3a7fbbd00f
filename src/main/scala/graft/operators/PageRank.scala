package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Damped PageRank over a directed edge table — the third iterative
  * graph operator next to [[GraphBfs]] (reachability) and
  * [[Dedup.connectedComponents]] (min-label clusters).
  *
  * Scale design (100 TB): each round is ONE equi-join of the edge
  * table to the node-sized rank table plus one map-side-combinable
  * sum, both shuffle-keyed on node id; the node count travels as a
  * broadcast 1-row aggregate, never a driver-side scalar. The
  * outdegree rides on the NODE side — `ranks ⋈ outdeg` is a
  * node-sized join each round — never materialized onto the edge
  * table: an sf10 stage profile (117 M edges) showed an
  * outdegree-annotated edge copy costs an edge-sized join + persist
  * up front (82 s) to save a node-sized join per round — exactly
  * backwards; the rounds themselves were already sub-second. For the
  * same reason `bothOrientations` lets callers that supply a
  * deduped, reversal-closed edge list (every undirected caller) skip
  * the defensive `distinct` — an all-unique-keys distinct was the
  * single most expensive no-op in the plan (245 s) — and halves node
  * discovery (the src column alone covers every node; no 2× union).
  * Rank tables are checkpointed per round so lineage stays flat.
  *
  * Determinism (the KMeans/PQ discipline): a per-edge contribution
  * rank/outdeg is one IEEE division — bitwise reproducible — and is
  * floor-quantized to the 1e-12 long grid BEFORE the order-free
  * integer sum, so results match any engine bit-for-bit. The
  * division happens on the node-sized side and the quantize on the
  * edge side: floor((rank/outdeg) · 1e12) is the identical
  * left-associated operation sequence as the edge-side formulation.
  * The teleport term is computed as (1.0 - damping)/n rather than a
  * pre-folded literal: 1.0-0.85 and the literal 0.15 are DIFFERENT
  * doubles, and the oracle must compute it the same way (NOTES.md
  * float lessons). Dangling nodes (outdeg 0) contribute nothing —
  * the simplified formulation; ranks then sum to < 1, which
  * comparisons tolerate because both engines drop the same mass. */
object PageRank {

  /** `edges`: (src, dst) rows, duplicates allowed (deduped here) —
    * unless `bothOrientations`, by which the caller asserts the list
    * is already DEDUPED and closed under reversal (the undirected
    * idiom) and cheap to re-scan (checkpointed/persisted): no
    * defensive distinct, nodes from the src column alone.
    * Returns (id, rank) for every node after `iters` rounds. */
  def run(edges: DataFrame, damping: Double, iters: Int,
          bothOrientations: Boolean = false): DataFrame = {
    val e0 = edges.select(col("src"), col("dst"))
    val e =
      if (bothOrientations) e0
      else e0.distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes =
      (if (bothOrientations) e.select(col("src").as("id"))
       else e.select(col("src").as("id"))
         .union(e.select(col("dst").as("id"))))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nRow = nodes.agg(count(lit(1)).cast("double").as("n"))
    // node-sized, round-invariant: joined to ranks each round
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // round-invariant teleport term + initial rank, checkpointed once
    val base = nodes.crossJoin(broadcast(nRow))
      .select(col("id"),
        ((lit(1.0) - lit(damping)) / col("n")).as("tele"),
        (lit(1.0) / col("n")).as("rank0"))
      .localCheckpoint()
    nodes.unpersist(blocking = false)
    var ranks = base.select(col("id"), col("rank0").as("rank"))
    for (_ <- 1 to iters) {
      // per-src weight built on the NODE side: one node-sized join,
      // then the round's single edge-sized join + combinable sum
      val rd = ranks
        .join(outdeg.withColumnRenamed("src", "id"), Seq("id"))
        .select(col("id").as("src"),
          (col("rank") / col("outdeg").cast("double")).as("w"))
      val contrib = e.join(rd, Seq("src"))
        .select(col("dst").as("id"),
          floor(col("w") * 1e12).cast("long").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      ranks = base.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (col("tele") +
            lit(damping) * (coalesce(col("s"), lit(0L)).cast("double") / 1e12))
            .as("rank"))
        .localCheckpoint() // node-sized; flattens per-round lineage
    }
    val out = ranks
    if (!bothOrientations) e.unpersist(blocking = false)
    outdeg.unpersist(blocking = false)
    out
  }
}
