package graft.gdl

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

/** A local filesystem that FORBIDS publish-level rename — the
  * object-store contract (rename is copy-then-delete there, so a
  * correct commit protocol must never rely on it). Renames INSIDE a
  * staged `_data-` dir (Spark's task committer moving part files out
  * of `_temporary`) are allowed: production object-store deployments
  * replace those with a rename-free committer, and they never affect
  * COMMIT atomicity — visibility is gated solely on the pointer file.
  * Any rename at the publish level throws, so a rename-based publish
  * CANNOT pass here. */
class NoPublishRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "norename"
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.toString.contains("_data-") && src.toString.contains("_data-"))
      super.rename(src, dst)
    else
      throw new UnsupportedOperationException(
        s"publish-level rename forbidden (object-store contract): $src -> $dst")
  }
}

/** A local filesystem that injects a persistent read fault on one
  * file name — models a committed pointer a reader transiently (or
  * lastingly) cannot open. The protocol invariant under test: an
  * UNREADABLE pointer is never deleted by anyone (it may be a live
  * commit marker), and commits/gc route around it instead. */
object PoisonReadFileSystem { @volatile var poison: String = "" }
class PoisonReadFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "noread"
  override def getUri: java.net.URI = java.net.URI.create("noread:///")
  override def open(p: Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    val poison = PoisonReadFileSystem.poison
    if (poison.nonEmpty && p.getName == poison)
      throw new java.io.IOException(s"injected read fault: $p")
    super.open(p, bufferSize)
  }
}

/** The pointer-commit protocol, driven end to end on the rename-free
  * filesystem: every row-visible operation (append, overwrite, merge,
  * fold, compact, time travel, change feed) must work with publish =
  * one create-exclusive pointer write. */
class TableStorePointerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def newRoot(tag: String): String = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.norename.impl", classOf[NoPublishRenameFileSystem].getName)
    "norename:" + java.nio.file.Files.createTempDirectory(tag).toString
  }

  private def hadoopFs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("full lifecycle commits without any publish-level rename") {
    val root = newRoot("store-ptr")
    val store = new TableStore(spark, root, autoCompactDeltas = 1000)
    (1 to 4).foreach(i => store.append("t", Seq(i).toDF("x")))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == (1 to 4))
    // minor compaction (fold), then major (comp)
    assert(store.foldDeltas("t"))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == (1 to 4))
    store.compact("t")
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == (1 to 4))
    store.append("t", Seq(5).toDF("x"))
    // time travel to before the last append still resolves
    assert(store.readAt("t", 5L).get.as[Int].collect().sorted.toSeq == (1 to 4))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == (1 to 5))
    // the change feed sees exactly the post-compaction delta
    assert(store.readChangesSince("t", 5L).get.as[Int].collect().toSeq
      == Seq(5))
    // no g<seq>-kind dirs exist — publishes were pointer files only
    val f = hadoopFs(root)
    val dirs = f.listStatus(new Path(root, "t")).map(_.getPath.getName).toSet
    assert(!dirs.exists(n => n.startsWith("g")),
      s"pointer mode must not create renamed generation dirs: $dirs")
    assert(dirs.contains("_commits"))
  }

  test("merge and deleteWhere publish tombstones through pointers") {
    val root = newRoot("store-ptr-merge")
    val store = new TableStore(spark, root, autoCompactDeltas = 1000)
    store.append("t", Seq((1, "a"), (2, "b")).toDF("k", "v"))
    store.merge("t", Seq((2, "B"), (3, "c")).toDF("k", "v"), Seq("k"))
    assert(store.read("t").get.as[(Int, String)].collect().sorted.toSeq
      == Seq((1, "a"), (2, "B"), (3, "c")))
    store.deleteWhere("t", org.apache.spark.sql.functions.col("k") === 1)
    assert(store.read("t").get.as[(Int, String)].collect().sorted.toSeq
      == Seq((2, "B"), (3, "c")))
  }

  test("racing appends and compactions: create-exclusive slots, no loss") {
    val root = newRoot("store-ptr-race")
    val a = new TableStore(spark, root, autoCompactDeltas = 1000,
      gcGraceMs = 0L)
    val b = new TableStore(spark, root, autoCompactDeltas = 1000,
      gcGraceMs = 0L)
    a.append("t", Seq(0).toDF("x"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val n = 10
    val fa = Future { (1 to n).foreach(i => a.append("t", Seq(i).toDF("x"))) }
    val fb = Future { (1 to n).foreach(_ => b.compact("t")) }
    Await.result(Future.sequence(Seq(fa, fb)), 300.seconds)
    pool.shutdown()
    assert(a.read("t").get.as[Int].collect().sorted.toSeq == (0 to n))
    // slots are unique by construction: one pointer file per seq
    val f = hadoopFs(root)
    val ptrs = f.listStatus(new Path(root, "t/_commits"))
      .map(_.getPath.getName).toSeq
    assert(ptrs.distinct.size == ptrs.size)
  }

  test("a torn pointer at the next slot does not wedge appends") {
    val root = newRoot("store-ptr-torn")
    val store = new TableStore(spark, root)
    store.append("t", Seq(1).toDF("x"))
    // a torn (unparseable) pointer already sits at the NEXT slot — too
    // fresh for the gc grace, so it might equally be a rival MID-WRITE
    // about to complete. The committer must neither loop to its
    // attempt cap NOR delete the young pointer (a completed rival's
    // marker deleted = acknowledged rows orphaned): it steps OVER the
    // slot and commits at the one after. Seq order carries the
    // semantics, so the hole is benign; gc reclaims the debris once
    // aged.
    val f = hadoopFs(root)
    f.create(new Path(root, "t/_commits/g0000001"), true).close()
    store.append("t", Seq(2).toDF("x"))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(f.exists(new Path(root, "t/_commits/g0000001")),
      "a YOUNG torn pointer must survive the commit untouched")
    assert(f.exists(new Path(root, "t/_commits/g0000002")),
      "the append must land on the slot after the blocked one")
  }

  test("an aged torn pointer at the next slot is reclaimed in place") {
    val root = newRoot("store-ptr-torn-aged")
    val store = new TableStore(spark, root, gcGraceMs = 60L * 1000)
    store.append("t", Seq(1).toDF("x"))
    val f = hadoopFs(root)
    val local = root.stripPrefix("norename:")
    f.create(new Path(root, "t/_commits/g0000001"), true).close()
    assert(new java.io.File(s"$local/t/_commits/g0000001")
      .setLastModified(System.currentTimeMillis() - 3600L * 1000))
    // past the grace the pointer is provably a crashed writer's torn
    // debris — the committer reclaims it (gc parity) and takes slot 1
    store.append("t", Seq(2).toDF("x"))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(1, 2))
    val ptrs = f.listStatus(new Path(root, "t/_commits"))
      .map(_.getPath.getName).toSet
    assert(ptrs == Set("g0000000", "g0000001"),
      s"aged torn slot must be reclaimed and reused, got $ptrs")
  }

  test("an unreadable pointer is never reclaimed; commits and gc step around it") {
    val root = newRoot("store-ptr-noread").replace("norename:", "noread:")
    spark.sparkContext.hadoopConfiguration.set(
      "fs.noread.impl", classOf[PoisonReadFileSystem].getName)
    PoisonReadFileSystem.poison = ""
    val store = new TableStore(spark, root, gcGraceMs = 0L)
    val f = hadoopFs(root)
    try {
      store.append("t", Seq(1).toDF("x")) // g0
      store.append("t", Seq(2).toDF("x")) // g1 — fully committed
      val g1data = {
        val in = f.open(new Path(root, "t/_commits/g0000001"))
        val s = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        s.split("\n", 2)(1)
      }
      // the committed g1 pointer now sits behind a persistent read
      // fault — indistinguishable, to a reader, from torn. Nothing may
      // delete it or the data it references, no matter how old
      // (gcGraceMs = 0 makes EVERYTHING aged). A FRESH store instance
      // is required: the committing store's pointer cache would mask
      // the fault.
      PoisonReadFileSystem.poison = "g0000001"
      val cold = new TableStore(spark, root, gcGraceMs = 0L)
      cold.append("t", Seq(3).toDF("x")) // must step past the slot
      cold.gc("t")
      assert(f.exists(new Path(root, "t/_commits/g0000001")),
        "gc must never reclaim an unreadable pointer")
      assert(f.exists(new Path(root, s"t/$g1data")),
        "gc must never reclaim the data dir an unreadable pointer references")
      // the fault heals → the hidden generation comes straight back
      PoisonReadFileSystem.poison = ""
      assert(new TableStore(spark, root)
        .read("t").get.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    } finally PoisonReadFileSystem.poison = ""
  }

  test("compact/fold refuse to supersede a hidden (unreadable) generation") {
    // The slot-skip floor lets appends commit ABOVE a committed-but-
    // unreadable pointer, which generations() silently omits. A
    // compaction (or fold) snapshotting that state would lack the
    // hidden generation's acknowledged rows, and its full-kind commit
    // would permanently outrank them once the fault heals — silent row
    // loss. Both must refuse while any pointer at or below the
    // snapshot tail is unreadable; the rows must come back on heal.
    val root = newRoot("store-ptr-noread-comp").replace("norename:", "noread:")
    spark.sparkContext.hadoopConfiguration.set(
      "fs.noread.impl", classOf[PoisonReadFileSystem].getName)
    PoisonReadFileSystem.poison = ""
    val store = new TableStore(spark, root, gcGraceMs = 0L)
    val f = hadoopFs(root)
    try {
      store.append("t", Seq(1).toDF("x")) // g0
      store.append("t", Seq(2).toDF("x")) // g1 — fully committed
      PoisonReadFileSystem.poison = "g0000001"
      // cold stores: the committing store's pointer cache would mask
      // the fault (and with the hidden gen in its snapshot, compacting
      // WOULD be safe — the gate keys off visibility, not the fault)
      def cold() = new TableStore(spark, root, gcGraceMs = 0L)
      val c = cold()
      c.append("t", Seq(3).toDF("x")) // steps past the blocked slot → g2
      // the visible chain is [g0, g2]; a comp/fold above it would hide
      // g1's rows forever
      c.compact("t")
      assert(!cold().history("t").exists(_._2 == "comp"),
        "compact must refuse while a pointer below the tail is unreadable")
      assert(!cold().foldDeltas("t"),
        "foldDeltas must refuse while a pointer below the tail is unreadable")
      c.gc("t")
      assert(f.exists(new Path(root, "t/_commits/g0000001")))
      // fault heals → every acknowledged row is still there
      PoisonReadFileSystem.poison = ""
      assert(cold().read("t").get.as[Int].collect().sorted.toSeq
        == Seq(1, 2, 3))
      // and with the chain fully readable again, compaction proceeds
      // and preserves everything
      val healed = cold()
      healed.compact("t")
      assert(healed.history("t").last._2 == "comp")
      assert(healed.read("t").get.as[Int].collect().sorted.toSeq
        == Seq(1, 2, 3))
    } finally PoisonReadFileSystem.poison = ""
  }

  test("gc reclaims aged orphan stages and torn pointers, never live data") {
    val root = newRoot("store-ptr-gc")
    val store = new TableStore(spark, root, gcGraceMs = 60L * 1000)
    store.append("t", Seq(1).toDF("x"))
    val f = hadoopFs(root)
    val local = root.stripPrefix("norename:")
    // a crashed stager's orphan data dir and a torn pointer, both aged
    f.mkdirs(new Path(root, "t/_data-orphan"))
    val torn = f.create(new Path(root, "t/_commits/g0000009"), true)
    torn.close() // empty = unparseable
    val old = System.currentTimeMillis() - 3600L * 1000
    assert(new java.io.File(s"$local/t/_data-orphan").setLastModified(old))
    assert(new java.io.File(s"$local/t/_commits/g0000009").setLastModified(old))
    // fresh strays must survive the same sweep
    f.mkdirs(new Path(root, "t/_data-fresh"))
    store.gc("t")
    assert(!f.exists(new Path(root, "t/_data-orphan")))
    assert(!f.exists(new Path(root, "t/_commits/g0000009")))
    assert(f.exists(new Path(root, "t/_data-fresh")))
    assert(store.read("t").get.as[Int].collect().toSeq == Seq(1))
  }

  test("at zero grace gc leaves a live writer's stage and torn pointer alone") {
    val root = newRoot("store-ptr-gc-live")
    val store = new TableStore(spark, root, gcGraceMs = 0L)
    store.append("t", Seq(1).toDF("x"))
    val f = hadoopFs(root)
    // what a writer in flight has on disk: its stage, not yet named by a
    // pointer, and its pointer between create and close
    f.mkdirs(new Path(root, "t/_data-inflight"))
    f.create(new Path(root, "t/_commits/g0000001"), false).close()
    store.gc("t")
    assert(f.exists(new Path(root, "t/_data-inflight")))
    assert(f.exists(new Path(root, "t/_commits/g0000001")))
    assert(store.read("t").get.as[Int].collect().toSeq == Seq(1))
  }

  test("snapshotFileList: a foreign engine's consistent snapshot read") {
    // r14 VERDICT #8 — the interop contract: the current snapshot as a
    // plain parquet path list any engine reads directly (DuckDB:
    // read_parquet over the list; tools/duckdb_snapshot_read.py runs
    // exactly that). Pinned here engine-agnostically: reading the
    // listed files as plain parquet equals read(table), and the list
    // captured BEFORE a writer commits still reads the OLD snapshot
    // afterwards — commits only add files, so a foreign reader holding
    // a list has snapshot isolation until gc.
    val local = java.nio.file.Files.createTempDirectory("store-interop")
      .toString
    val store = new TableStore(spark, local, autoCompactDeltas = 1000)
    store.append("t", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    store.merge("t", Seq((2L, "B"), (4L, "d")).toDF("k", "v"), Seq("k"))
    val snap1 = store.snapshotFileList("t").get
    assert(snap1.nonEmpty && snap1.forall(_.endsWith(".parquet")))
    def plainRead(files: Seq[String]) =
      spark.read.parquet(files: _*).as[(Long, String)].collect().toSet
    val want1 = Set((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d"))
    assert(plainRead(snap1) == want1)
    assert(store.read("t").get.as[(Long, String)].collect().toSet == want1)
    // a writer commits (append + a merge that tombstones): the held
    // list is untouched on disk and still reads the OLD snapshot
    store.append("t", Seq((5L, "e")).toDF("k", "v"))
    store.merge("t", Seq((1L, "A")).toDF("k", "v"), Seq("k"))
    val f = hadoopFs(local)
    assert(snap1.forall(p => f.exists(new Path(p))),
      "a commit must never delete or mutate a committed snapshot's files")
    assert(plainRead(snap1) == want1)
    // the NEW list sees the new snapshot; the old tombstoned file is
    // excluded from it, not deleted
    val snap2 = store.snapshotFileList("t").get
    assert(plainRead(snap2) ==
      Set((1L, "A"), (2L, "B"), (3L, "c"), (4L, "d"), (5L, "e")))
    assert(snap2.toSet != snap1.toSet)
  }
}
