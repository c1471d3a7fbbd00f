package graft.gdl

import graft.TestSpark
import graft.gdl.expr.BloomSidecar
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Bloom-sidecar file skipping: a point probe on a high-cardinality
  * column whose values INTERLEAVE across files (so zone maps prune
  * nothing) must open only the files whose sketch might contain the
  * value — and skipping must never change the result. */
class BloomSidecarSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** ids like "3x0042" spread round-robin over files: every file's
    * [min,max] string zone spans the whole key space. */
  private def interleavedIds(lo: Int, hi: Int): Seq[(String, Long)] =
    (lo until hi).map(i => (f"${i % 7}%dx$i%04d", i.toLong))

  private def freshStore(bloom: Boolean) = new TableStore(spark,
    java.nio.file.Files.createTempDirectory("bloom").toString,
    partitioning = Map.empty,
    bloomColumns = if (bloom) Map("t" -> Seq("id")) else Map.empty,
    bloomBitsPerFile = 1 << 16)

  private def threeGens(store: TableStore): Unit = {
    store.append("t", interleavedIds(0, 100).toDF("id", "v").repartition(4))
    store.append("t", interleavedIds(100, 200).toDF("id", "v").repartition(4))
    store.append("t", interleavedIds(200, 300).toDF("id", "v").repartition(4))
  }

  private def rows(df: DataFrame) = df.as[(String, Long)].collect().toSet

  test("point probe opens only the files whose sketch can hold the key") {
    val store = freshStore(bloom = true)
    threeGens(store)
    val needle = "6x0153" // one row, in generation 1
    val got = store.scan("t", $"id" === needle).get
    assert(rows(got) == Set((needle, 153L)))
    // 12 files total; the sketch keeps the 1 true file (+ negligible FP
    // odds at 2^16 bits for ~25 rows/file)
    assert(got.inputFiles.length <= 2,
      s"expected <=2 files, read ${got.inputFiles.length}")
    // without the sidecar the zone maps alone prune only generation 0
    // (its max id "6x0099" sorts below the needle) — 8 files remain;
    // the sketch is what collapses those 8 to 1
    val plain = freshStore(bloom = false)
    threeGens(plain)
    val all = plain.scan("t", $"id" === needle).get
    assert(all.inputFiles.length == 8)
    assert(rows(all) == Set((needle, 153L)))
    // the observability hook reports the same decision the scan made
    val (kept, listed) = store.scanFileCounts("t", $"id" === needle)
    assert(listed == 12 && kept == got.inputFiles.length)
  }

  test("a pruned scan launches no more Spark jobs than a full read") {
    val store = freshStore(bloom = true)
    threeGens(store)
    val sc = spark.sparkContext
    val (_, readJobs) = JobCount(sc)(store.read("t").get.collect())
    val needle = "6x0153"
    val (got, scanJobs) = JobCount(sc)(rows(store.scan("t", $"id" === needle).get))
    assert(got == Set((needle, 153L)))
    // each generation's schema is inferred once, by the chain's read;
    // the Bloom-kept file subset reuses it instead of inferring again
    assert(scanJobs <= readJobs, s"scan ran $scanJobs jobs, read $readJobs")
  }

  test("absent key reads zero files but keeps schema and filter semantics") {
    val store = freshStore(bloom = true)
    threeGens(store)
    val got = store.scan("t", $"id" === "no-such-key").get
    assert(got.isEmpty && got.columns.toSeq == Seq("id", "v"))
    assert(got.inputFiles.isEmpty)
  }

  test("IN-list keeps the union of candidate files; result matches full filter") {
    val store = freshStore(bloom = true)
    threeGens(store)
    val keys = Seq("0x0007", "4x0151", "5x0299")
    val got = store.scan("t", $"id".isin(keys: _*)).get
    assert(rows(got) == rows(store.read("t").get.filter($"id".isin(keys: _*))))
    assert(rows(got).size == 3)
    assert(got.inputFiles.length <= 4)
  }

  test("integral column probes via canonical string form") {
    val root = java.nio.file.Files.createTempDirectory("bloomint").toString
    val store = new TableStore(spark, root, partitioning = Map.empty,
      bloomColumns = Map("t" -> Seq("v")))
    // v interleaves across files too (id ordering != v ordering here)
    store.append("t", interleavedIds(0, 100).toDF("id", "v")
      .repartition(4, $"id"))
    store.append("t", interleavedIds(100, 200).toDF("id", "v")
      .repartition(4, $"id"))
    val got = store.scan("t", $"v" === 137L).get
    assert(rows(got) == Set(("4x0137", 137L)))
  }

  test("change feed with predicate prunes by sketch as well") {
    val store = freshStore(bloom = true)
    threeGens(store)
    val got = store.readChangesSinceWhere("t", 0L, $"id" === "6x0209").get
    assert(rows(got) == Set(("6x0209", 209L)))
    assert(got.inputFiles.length <= 2)
  }

  test("100k-row files still prune at the DEFAULT width (large-file sizing)") {
    // the old 2^18 default fell to ~2.6 bits/row at 100k rows/file and
    // the sketch passed almost everything (VERDICT r6 #7); the default
    // must hold ~10 bits/row for the 128 MiB bin-packed maintenance
    // layout, with the OR-fold keeping SMALL files' sidecars tiny
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("bloom-big").toString,
      partitioning = Map.empty,
      bloomColumns = Map("t" -> Seq("id"))) // default bloomBitsPerFile
    // two generations x 2 files x 100k interleaved string keys
    def big(lo: Int) = (lo until lo + 200000)
      .map(i => (f"${i % 7}%dx$i%07d", i.toLong)).toDF("id", "v")
      .repartition(2)
    store.append("t", big(0))
    store.append("t", big(200000))
    // a present key: opens only the files that can hold it
    val needle = f"${123457 % 7}%dx${123457}%07d"
    val got = store.scan("t", $"id" === needle).get
    assert(got.as[(String, Long)].collect().toSet == Set((needle, 123457L)))
    val (kept, listed) = store.scanFileCounts("t", $"id" === needle)
    assert(listed == 4)
    assert(kept <= 2, s"present-key probe kept $kept of $listed files")
    // an absent key: at ~10 bits/row every 100k-row sketch proves it out
    val (keptAbs, _) = store.scanFileCounts("t", $"id" === "9x9999999")
    assert(keptAbs == 0, s"absent-key probe kept $keptAbs files — " +
      "sketch under-sized for 100k-row files")
  }

  test("a generation without a sidecar is always read (safety)") {
    val store = freshStore(bloom = true)
    threeGens(store)
    // strip the generations' sidecars: probe must still find its row
    StoreFiles.dirsOf(StoreFiles.snapshot(store, "t")).foreach(g =>
      new java.io.File(g.toString, TableStore.bloomFile).delete())
    val got = store.scan("t", $"id" === "6x0153").get
    assert(rows(got) == Set(("6x0153", 153L)))
  }

  test("fractional equality contributes no pruning (never skips wrongly)") {
    val root = java.nio.file.Files.createTempDirectory("bloomfrac").toString
    val store = new TableStore(spark, root, partitioning = Map.empty,
      bloomColumns = Map("t" -> Seq("d")))
    store.append("t", Seq(("a", 1.5), ("b", 2.5)).toDF("id", "d"))
    // double is not Bloom-eligible: no sidecar entry is built for it and
    // no equality is extracted — the scan degrades to zone/full read
    val got = store.scan("t", $"d" === 2.5).get
    assert(got.as[(String, Double)].collect().toSet == Set(("b", 2.5)))
  }

  test("sidecar parse roundtrip and truncated-bitset probe") {
    val bs = new java.util.BitSet(1 << 10)
    BloomSidecar.setBits(bs, "hello", 1 << 10, 5)
    val b64 = java.util.Base64.getEncoder.encodeToString(bs.toByteArray)
    val txt = s"part-0001\tid\t${1 << 10}\t5\t$b64\nbadline\n"
    val parsed = TableStore.parseBloom(txt)
    assert(parsed.keySet == Set("part-0001"))
    val b = parsed("part-0001")("id")
    assert(BloomSidecar.mightContain(b.bs, "hello", b.bits, b.hashes))
    assert(!BloomSidecar.mightContain(b.bs, "world", b.bits, b.hashes))
  }

  test("prunedFiles combines zone and sketch prunes; no stats = read all") {
    assert(TableStore.prunedFiles(None, Nil, None, Nil).isEmpty)
    val bs = new java.util.BitSet(64)
    BloomSidecar.setBits(bs, "k1", 64, 3)
    val blooms = Some(Map(
      "f1" -> Map("id" -> TableStore.Bloom(64, 3, bs)),
      "f2" -> Map("id" -> TableStore.Bloom(64, 3, new java.util.BitSet(64)))))
    // bloom-only universe comes from the sidecar keyset
    assert(TableStore.prunedFiles(None, Nil, blooms,
      Seq(("id", Seq("k1")))) == Some(Set("f1")))
    // a column with no sketch never skips
    assert(TableStore.prunedFiles(None, Nil, blooms,
      Seq(("other", Seq("zz")))) == Some(Set("f1", "f2")))
    // zones and sketches intersect: f1 passes bloom but fails the zone
    val zones = Some(Map(
      "f1" -> Map("v" -> TableStore.Zone("i", "0", "10")),
      "f2" -> Map("v" -> TableStore.Zone("i", "20", "30"))))
    assert(TableStore.prunedFiles(zones, Seq(("v", Some(25), Some(25))),
      blooms, Seq(("id", Seq("k1")))) == Some(Set.empty[String]))
  }

  test("predicateEqualities extracts only canonical-string-safe conjuncts") {
    val df = interleavedIds(0, 10).toDF("id", "v")
    def eqsOf(c: org.apache.spark.sql.Column): Seq[(String, Seq[String])] =
      df.filter(c).queryExecution.analyzed match {
        case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, _) =>
          TableStore.predicateEqualities(cond)
        case _ => Nil
      }
    assert(eqsOf($"id" === "x" && $"v" === 5L) ==
      Seq(("id", Seq("x")), ("v", Seq("5"))))
    assert(eqsOf($"id".isin("a", "b")) == Seq(("id", Seq("a", "b"))))
    // OR gives nothing; comparison gives nothing; expression-side gives nothing
    assert(eqsOf($"id" === "x" || $"v" === 5L).isEmpty)
    assert(eqsOf($"v" > 5L).isEmpty)
    assert(eqsOf(org.apache.spark.sql.functions.upper($"id") === "X").isEmpty)
  }
}
