package graft.gdl

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Row-level MERGE/DELETE as copy-on-write file rewrite: only files
  * containing a matched key are rewritten; tombstones hide the
  * originals from every reader (current, time-travel, pruned scan);
  * the change feed refuses to express an update as appends. */
class MergeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import StoreFiles.{added, opened}

  private def freshStore() = new TableStore(spark,
    java.nio.file.Files.createTempDirectory("merge").toString,
    partitioning = Map.empty,
    bloomColumns = Map("t" -> Seq("id")))

  /** 3 generations × 4 files each; string ids interleave. */
  private def threeGens(store: TableStore): Unit = {
    def ids(lo: Int, hi: Int) =
      (lo until hi).map(i => (f"${i % 7}%dx$i%04d", i.toLong))
    store.append("t", ids(0, 100).toDF("id", "v").repartition(4))
    store.append("t", ids(100, 200).toDF("id", "v").repartition(4))
    store.append("t", ids(200, 300).toDF("id", "v").repartition(4))
  }

  private def rows(df: DataFrame) = df.as[(String, Long)].collect().toSet

  test("merge upserts in place and rewrites only the touched files") {
    val store = freshStore()
    threeGens(store)
    val before = rows(store.read("t").get)
    val updates = Seq(("6x0153", -153L), ("0x0007", -7L), ("zz_new", 999L))
      .toDF("id", "v")
    val mergeFiles = added(store, "t")(store.merge("t", updates, Seq("id")))

    val after = rows(store.read("t").get)
    val expected = before
      .filterNot(r => Set("6x0153", "0x0007").contains(r._1)) ++
      Set(("6x0153", -153L), ("0x0007", -7L), ("zz_new", 999L))
    assert(after == expected)
    assert(after.size == 301)

    // history shows a merge generation; the read never opens the
    // tombstoned originals (their generations contribute their other
    // files only)
    assert(store.history("t").map(_._2) ==
      Seq("delta", "delta", "delta", "merge"))
    val read = opened(store.read("t").get)
    assert(read.exists(mergeFiles))
    // 12 original files, 2 tombstoned (one per touched key's file),
    // their 10 siblings still read in place
    val origOpened = read.filterNot(mergeFiles)
    assert(origOpened.size == 10, s"expected 10 surviving, got $origOpened")
  }

  test("point probe through the Bloom sidecar sees the merged value") {
    val store = freshStore()
    threeGens(store)
    val mergeFiles = added(store, "t")(
      store.merge("t", Seq(("6x0153", -153L)).toDF("id", "v"), Seq("id")))
    val got = store.scan("t", $"id" === "6x0153").get
    assert(rows(got) == Set(("6x0153", -153L)))
    // pruned: the merge generation's own sidecar plus nothing stale
    assert(opened(got).forall(mergeFiles))
  }

  test("time travel to a pre-merge seq shows pre-merge rows exactly") {
    val store = freshStore()
    threeGens(store)
    val preMergeSeq = store.history("t").last._1
    val before = rows(store.read("t").get)
    store.merge("t", Seq(("6x0153", -153L)).toDF("id", "v"), Seq("id"))
    assert(rows(store.readAt("t", preMergeSeq).get) == before)
    assert(rows(store.read("t").get) != before)
  }

  test("change feed refuses to express a merge; re-bootstrap works") {
    val store = freshStore()
    threeGens(store)
    val ckpt = store.history("t").last._1
    store.merge("t", Seq(("6x0153", -153L)).toDF("id", "v"), Seq("id"))
    intercept[TableStore.FullRefreshRequiredException] {
      store.readChangesSince("t", ckpt)
    }
    // the consumer re-bootstraps from read() and checkpoints the head
    val head = store.history("t").last._1
    assert(store.readChangesSince("t", head).get.isEmpty)
  }

  test("pure-insert merge lands as a delta: the change feed keeps working") {
    val store = freshStore()
    threeGens(store)
    val ckpt = store.history("t").last._1
    store.merge("t", Seq(("zz_new", 999L)).toDF("id", "v"), Seq("id"))
    assert(store.history("t").last._2 == "delta")
    assert(rows(store.readChangesSince("t", ckpt).get) == Set(("zz_new", 999L)))
  }

  test("deleteWhere removes matching rows at O(affected files)") {
    val store = freshStore()
    threeGens(store)
    val before = rows(store.read("t").get)
    store.deleteWhere("t", $"id" === "6x0153")
    assert(rows(store.read("t").get) == before - (("6x0153", 153L)))
    // discovery went through scan(): a key-equality delete tombstones
    // exactly the file(s) the sidecar could not exclude
    val replaced = store.history("t")
    assert(replaced.last._2 == "merge")
  }

  test("deleteWhere keeps NULL-evaluating rows (SQL delete semantics)") {
    val root = java.nio.file.Files.createTempDirectory("mergenull").toString
    val store = new TableStore(spark, root, partitioning = Map.empty)
    store.append("t", Seq(("a", Some(1L)), ("b", None), ("c", Some(3L)))
      .toDF("id", "v"))
    store.deleteWhere("t", $"v" > 1L)
    val left = store.read("t").get.as[(String, Option[Long])].collect().toSet
    assert(left == Set(("a", Some(1L)), ("b", None)))
  }

  test("delete matching nothing is a no-op commit-wise") {
    val store = freshStore()
    threeGens(store)
    val hist = store.history("t")
    store.deleteWhere("t", $"id" === "no-such-key")
    assert(store.history("t") == hist)
  }

  test("deleting every row leaves an empty table with its schema") {
    val root = java.nio.file.Files.createTempDirectory("mergeall").toString
    val store = new TableStore(spark, root, partitioning = Map.empty)
    store.append("t", Seq(("a", 1L), ("b", 2L)).toDF("id", "v"))
    store.deleteWhere("t", org.apache.spark.sql.functions.lit(true))
    val got = store.read("t").get
    assert(got.isEmpty && got.columns.toSeq == Seq("id", "v"))
  }

  test("compaction folds merges away; contents survive") {
    val store = freshStore()
    threeGens(store)
    store.merge("t", Seq(("6x0153", -153L), ("zz", 1L)).toDF("id", "v"), Seq("id"))
    val before = rows(store.read("t").get)
    val compFiles = added(store, "t")(store.compact("t"))
    assert(store.history("t").last._2 == "comp")
    assert(rows(store.read("t").get) == before)
    // post-compaction chain has no tombstones in play: whole-dir reads
    assert(opened(store.read("t").get).forall(compFiles))
  }

  test("merge on a partitioned table preserves the layout") {
    val root = java.nio.file.Files.createTempDirectory("mergepart").toString
    val store = new TableStore(spark, root,
      partitioning = Map("t" -> Seq("ds")))
    store.append("t", Seq(("a", 1L, "d1"), ("b", 2L, "d2"), ("c", 3L, "d1"))
      .toDF("id", "v", "ds"))
    val mergeFiles = added(store, "t")(
      store.merge("t", Seq(("a", -1L, "d1")).toDF("id", "v", "ds"), Seq("id")))
    val got = store.read("t").get
    assert(got.as[(String, Long, String)].collect().toSet ==
      Set(("a", -1L, "d1"), ("b", 2L, "d2"), ("c", 3L, "d1")))
    // the merge generation is itself partition-laid-out
    assert(opened(store.read("t").get)
      .filter(mergeFiles).forall(_.contains("ds=")))
  }

  test("merge into an empty table is an append") {
    val root = java.nio.file.Files.createTempDirectory("mergeempty").toString
    val store = new TableStore(spark, root, partitioning = Map.empty)
    store.merge("t", Seq(("a", 1L)).toDF("id", "v"), Seq("id"))
    assert(store.history("t") == Seq((0L, "delta")))
    assert(rows(store.read("t").get) == Set(("a", 1L)))
  }

  test("repeated merges chain correctly (merge atop a merge)") {
    val store = freshStore()
    threeGens(store)
    store.merge("t", Seq(("6x0153", -1L)).toDF("id", "v"), Seq("id"))
    store.merge("t", Seq(("6x0153", -2L)).toDF("id", "v"), Seq("id"))
    store.merge("t", Seq(("0x0007", -3L)).toDF("id", "v"), Seq("id"))
    val after = rows(store.read("t").get)
    assert(after.contains(("6x0153", -2L)) && after.contains(("0x0007", -3L)))
    assert(!after.contains(("6x0153", 153L)) && !after.contains(("6x0153", -1L)))
    assert(after.size == 301 - 1) // 300 originals, 2 updated in place
  }

  test("tombstone survivors keep their generation's partition types") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("mergepart").toString,
      partitioning = Map("t" -> Seq("p")))
    store.append("t", Seq(("r1", "007"), ("r2", "a")).toDF("id", "p"))
    val mergeFiles = added(store, "t")(
      store.merge("t", Seq(("r2", "a")).toDF("id", "p"), Seq("id")))
    assert(store.history("t").map(_._2) == Seq("delta", "merge"))
    // the merge tombstoned the p=a file; the surviving p=007 file alone
    // would infer p as an integer and the union would cast "a" to it
    val read = store.read("t").get
    assert(opened(read).count(f => !mergeFiles(f)) == 1)
    assert(read.as[(String, String)].collect().toSet ==
      Set(("r1", "007"), ("r2", "a")))
  }

  test("tombstone serialization roundtrip; corrupt line fails loudly") {
    val m = Map("_data-0001" -> Set("part-1.parquet", "ds=a/part-2.parquet"))
    assert(TableStore.parseReplaces(TableStore.serializeReplaces(m)) == m)
    intercept[IllegalStateException] {
      TableStore.parseReplaces("only-one-field\n")
    }
  }
}
