package graft.gdl

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delta folding (minor compaction): one generation carrying exactly a
  * trailing delta run — the O(new data) maintenance path that keeps a
  * 100 TB append-mostly table's write amplification sane. The contracts
  * pinned here: contents never change, the change feed never double-
  * delivers or silently misses, time travel into the covered span stays
  * exact until gc, and after gc becomes a TYPED vacuumed failure. */
class FoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(grace: Long = 10 * 60 * 1000,
                         auto: Int = 1000): (TableStore, String) = {
    val root = java.nio.file.Files.createTempDirectory("fold").toString
    (new TableStore(spark, root, autoCompactDeltas = auto,
      gcGraceMs = grace, partitioning = Map.empty), root)
  }

  private def rows(store: TableStore, table: String): Set[Long] =
    store.read(table).get.select("v").collect().map(_.getLong(0)).toSet

  test("fold preserves contents exactly and hides the covered run") {
    val (store, _) = freshStore()
    (0 until 5).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    val before = rows(store, "t")
    val foldFiles = StoreFiles.added(store, "t")(assert(store.foldDeltas("t")))
    assert(rows(store, "t") == before)
    val hist = store.history("t")
    assert(hist.last._2 == "fold0000000", s"got ${hist.last}")
    assert(hist.last._1 == 5L)
    // live read unions ONE generation now, not five
    assert(StoreFiles.opened(store.read("t").get).forall(foldFiles),
      "covered originals still read")
  }

  test("fold run stops at a merge generation") {
    val (store, _) = freshStore()
    store.append("t", Seq((1L, "a"), (2L, "b")).toDF("v", "s"))
    store.merge("t", Seq((1L, "a2")).toDF("v", "s"), Seq("v"))
    (10 to 12).foreach(i => store.append("t", Seq((i.toLong, "x")).toDF("v", "s")))
    assert(store.foldDeltas("t"))
    val hist = store.history("t")
    // merge at g1 untouched; fold covers only [2..4]
    assert(hist.map(_._2).count(_ == TableStore.mergeKind) == 1)
    assert(hist.last._2 == "fold0000002")
    // merge semantics survive the fold: v=1 resolved to the rewrite
    val m = store.read("t").get.filter(col("v") === 1L)
      .select("s").collect().map(_.getString(0)).toSeq
    assert(m == Seq("a2"))
  }

  test("change feed: boundary checkpoints are served by the fold itself") {
    val (store, _) = freshStore()
    (0 until 4).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    // consumer checkpointed BEFORE the run
    assert(store.foldDeltas("t")) // fold at g4 covers [0..3]
    val feed = store.readChangesSince("t", -1L).get
      .select("v").collect().map(_.getLong(0)).toSeq
    assert(feed.sorted == Seq(0L, 1L, 2L, 3L), s"got $feed") // once each
    // consumer checkpointed AT the end of the covered run: the fold's
    // own slot carries nothing new
    assert(store.readChangesSince("t", 3L).get.isEmpty)
    assert(store.readChangesSince("t", 4L).get.isEmpty)
    // appends after the fold flow normally
    store.append("t", Seq(9L).toDF("v"))
    assert(store.readChangesSince("t", 4L).get
      .select("v").collect().map(_.getLong(0)).toSeq == Seq(9L))
    // and a bootstrap replays fold + tail exactly once each
    assert(store.readChangesSince("t", -1L).get
      .select("v").collect().map(_.getLong(0)).toSeq.sorted ==
      Seq(0L, 1L, 2L, 3L, 9L))
  }

  test("change feed: mid-covered-range checkpoint uses surviving originals") {
    val (store, _) = freshStore()
    (0 until 4).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    assert(store.foldDeltas("t"))
    // checkpoint INSIDE the folded span: originals still on disk (grace)
    val got = store.readChangesSince("t", 1L).get
      .select("v").collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L))
  }

  test("change feed: mid-range checkpoint after gc is a typed re-bootstrap") {
    val (store, root) = freshStore(grace = 0L)
    (0 until 4).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    assert(store.foldDeltas("t"))
    // backdate every generation: mtime granularity must not keep them alive
    StoreFiles.ageAll(store, root, "t")
    store.gc("t") // grace 0: covered originals reclaimed immediately
    intercept[TableStore.VacuumedHistoryException] {
      store.readChangesSince("t", 1L)
    }
    // boundary checkpoints still fine — the fold serves them forever
    assert(store.readChangesSince("t", -1L).get
      .select("v").collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
    assert(store.readChangesSince("t", 3L).get.isEmpty)
    // and the live read is unaffected
    assert(rows(store, "t") == Set(0L, 1L, 2L, 3L))
  }

  test("time travel into the covered span: exact until gc, typed after") {
    // within the grace window the originals survive: state is exact
    val (alive, _) = freshStore()
    (0 until 4).foreach(i => alive.append("t", Seq(i.toLong).toDF("v")))
    assert(alive.foldDeltas("t"))
    assert(alive.readAt("t", 1L).get
      .select("v").collect().map(_.getLong(0)).toSet == Set(0L, 1L))
    // grace 0: gc after the fold reclaims the covered span
    val (gone, groot) = freshStore(grace = 0L)
    (0 until 4).foreach(i => gone.append("t", Seq(i.toLong).toDF("v")))
    assert(gone.foldDeltas("t"))
    StoreFiles.ageAll(gone, groot, "t")
    gone.gc("t")
    intercept[TableStore.VacuumedHistoryException](gone.readAt("t", 1L))
    // at or past the fold slot, the fold serves
    assert(gone.readAt("t", 4L).get
      .select("v").collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("gc spares covered originals while the fold is younger than grace") {
    val (store, _) = freshStore(grace = 60 * 60 * 1000)
    (0 until 3).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    assert(store.foldDeltas("t"))
    store.gc("t")
    // mid-range feed still resolves: nothing was deleted
    assert(store.readChangesSince("t", 0L).get
      .select("v").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val seqs = store.history("t").map(_._1).toSet
    assert((0 to 3).forall(i => seqs(i.toLong)))
  }

  test("auto maintenance folds instead of rewriting; tier-2 compacts") {
    val (store, _) = freshStore(auto = 2)
    (0 until 8).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    val kinds = store.history("t").map(_._2)
    assert(kinds.exists(k => TableStore.foldStart(k).isDefined),
      s"no fold generations in $kinds")
    assert(!kinds.contains("comp"),
      s"tier-1 should fold, not rewrite the table: $kinds")
    assert(rows(store, "t") == (0L until 8L).toSet)
    // keep going: folds pile up past 2×auto → one full compaction resets
    (8 until 30).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    val kinds2 = store.history("t").map(_._2)
    assert(kinds2.contains("comp"), s"tier-2 never fired: $kinds2")
    assert(rows(store, "t") == (0L until 30L).toSet)
  }

  test("an overwrite after folds still wins and still FullRefreshes the feed") {
    val (store, _) = freshStore()
    (0 until 3).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    assert(store.foldDeltas("t"))
    store.overwrite("t", Seq(99L).toDF("v"))
    assert(rows(store, "t") == Set(99L))
    intercept[TableStore.FullRefreshRequiredException] {
      store.readChangesSince("t", 0L)
    }
  }

  test("folding twice stacks: each fold covers its own run only") {
    val (store, _) = freshStore()
    (0 until 3).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    assert(store.foldDeltas("t")) // g3 = fold[0..2]
    (10 until 13).foreach(i => store.append("t", Seq(i.toLong).toDF("v")))
    assert(store.foldDeltas("t")) // g7 = fold[4..6]
    assert(rows(store, "t") == Set(0L, 1L, 2L, 10L, 11L, 12L))
    assert(store.readChangesSince("t", -1L).get
      .select("v").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 10L, 11L, 12L))
    assert(store.readChangesSince("t", 3L).get
      .select("v").collect().map(_.getLong(0)).toSet == Set(10L, 11L, 12L))
    val folds = store.history("t").map(_._2)
      .flatMap(k => TableStore.foldStart(k))
    assert(folds == Seq(0L, 4L))
  }

  test("a fold with fewer than two trailing deltas is refused") {
    val (store, _) = freshStore()
    store.append("t", Seq(1L).toDF("v"))
    assert(!store.foldDeltas("t"))
    assert(store.foldDeltas("t") == false)
    store.append("t", Seq(2L).toDF("v"))
    assert(store.foldDeltas("t"))
    // now only the fold remains trailing — nothing to fold again
    assert(!store.foldDeltas("t"))
  }
}
