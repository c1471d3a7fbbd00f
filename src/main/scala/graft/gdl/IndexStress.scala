package graft.gdl

import graft.operators.{NearDupIndex, VectorIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Persistent-index stress: the files-opened evidence that the Bloom
  * sidecars + the inverted-list layout actually change what the index
  * point reads touch, at a scale where it matters (200k vectors across
  * 32 range-clustered files; 20k docs across a seed + 10 delta
  * ingests).
  *
  * Two measurements, both via `TableStore.scanFileCounts` (kept, total)
  * plus wall time:
  *  - VectorIndex: a 2-probed-cells search against the epoch's assign/
  *    codes tables — the clustered layout makes zone [min,max] per
  *    file tight, and the `cell` Bloom makes a sparse `IN (a, b)`
  *    exact (the zone range a..b alone would keep nearly everything
  *    when a and b are far apart).
  *  - NearDupIndex: `clusterOf(one id)` against the label delta chain
  *    whose doc ids interleave across every file — zones prune
  *    nothing there; the doc_id sketches are the whole win.
  *
  * Prints one JSON line per measurement; used for the NOTES.md scale
  * evidence, re-runnable any round.
  *
  * Usage: runMain graft.gdl.IndexStress [workDir]
  */
object IndexStress {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("index-stress").toString)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-index-stress")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def timed[A](what: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"""{"step":"$what","sec":${(System.nanoTime() - t0) / 1e9}%.3f}""")
      r
    }

    // ---- VectorIndex: 200k synthetic 32-dim vectors, 64 coarse cells
    val dim = 32
    val nVec = 200000L
    val corpus = spark.range(nVec)
      .select(col("id"),
        transform(sequence(lit(1), lit(dim)),
          j => pmod(hash(col("id") * 31 + j), lit(1000)).cast("float") / 1000f)
          .as("embedding"))
      .localCheckpoint(true)
    val coarse = corpus.filter(col("id") < 64)
      .select(col("id").as("cid"), col("embedding"))
      .localCheckpoint(true)
    val vstore = new TableStore(spark, s"$work/vec", partitioning = Map.empty)
    val vidx = new VectorIndex(vstore, "ann",
      m = 4, subDim = 8, codebookK = 16, trainIters = 1)
    timed(s"vector index build ($nVec vectors, 64 cells)") {
      vidx.build(corpus, coarse)
    }
    val queries = corpus.filter(col("id") === 77L || col("id") === 131077L)
      .localCheckpoint(true)
    val hits = timed("search 2 queries, nprobe=1 (pruned reads)") {
      vidx.search(queries, nprobe = 1, k = 10).count()
    }
    // the probe predicate the search used, re-derived for the counts
    val cells = graft.operators.Pq.probeCells(queries, coarse, 1)
      .select("cell").distinct().collect().map(_.get(0)).toSeq
    val pred = col("cell").isin(cells: _*)
    val (ak, at) = vstore.scanFileCounts("ann_e0_assign", pred)
    val (ck, ct) = vstore.scanFileCounts("ann_e0_codes", pred)
    // zone-only counterpart: the [min,max] range of the probed cells —
    // a range predicate, which no Bloom sidecar answers (the Bloom's
    // exact membership is the difference)
    val cellIds = cells.map(_.asInstanceOf[Long])
    val (zk, zt) = vstore.scanFileCounts("ann_e0_assign",
      col("cell").between(cellIds.min, cellIds.max))
    println(s"""{"probed_cells":${cells.size},"search_rows":$hits,""" +
      s""""assign_files":[$ak,$at],"codes_files":[$ck,$ct],""" +
      s""""assign_zone_only":[$zk,$zt]}""")

    // ---- NearDupIndex: 20k synthetic docs, seed + 10 delta ingests
    // every 10th/10th+1 id pair shares one text seed → guaranteed dup
    // pairs inside each batch, so the cluster table is non-trivial
    def docsBetween(lo: Long, hi: Long) =
      spark.range(lo, hi).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(10)) < 2, expr("(id div 10) * 10"))
          .otherwise(col("id")).as("_seed"))
        .select(col("doc_id"),
          concat_ws(" ", (1 to 30).map(j =>
            pmod(hash(col("_seed") * 17 + j), lit(500)).cast("string")): _*)
            .as("text"))
    val dstore = new TableStore(spark, s"$work/dup", partitioning = Map.empty)
    val didx = new NearDupIndex(dstore, "dup")
    timed("near-dup index build+clusters (10k seed docs)") {
      val seed = docsBetween(10000, 20000).localCheckpoint(true)
      didx.build(seed, "doc_id", "text")
      didx.buildClusters(seed, "doc_id", "text")
    }
    timed("10 delta ingests (1k docs each)") {
      (0 until 10).foreach { b =>
        didx.ingest(docsBetween(b * 1000L, b * 1000L + 1000)
          .localCheckpoint(true), "doc_id", "text")
      }
    }
    val target = didx.clusters().select("doc_id").limit(1)
      .collect().head.getLong(0)
    val got = timed(s"clusterOf($target) point read") {
      didx.clusterOf(Seq(target)).count()
    }
    val (dk, dt) = dstore.scanFileCounts("dup_e0_clusters",
      col("doc_id") === lit(target))
    val (mk, mt) = dstore.scanFileCounts("dup_e0_clusters",
      col("doc_id") === lit(-1L))
    println(s"""{"cluster_rows":$got,"present_key_files":[$dk,$dt],""" +
      s""""absent_key_files":[$mk,$mt]}""")
    spark.stop()
  }
}
