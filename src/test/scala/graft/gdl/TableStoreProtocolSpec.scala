package graft.gdl

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Commit/read protocol edges surfaced by review: racing writers on
  * the create-exclusive slot, partial-history time travel, the
  * vacuumed-snapshot change feed and the gc grace clock. Every failure
  * here was a SILENT wrong answer before the guards existed. */
class TableStoreProtocolSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import StoreFiles.{age, drop, generation}

  test("appends racing explicit folds never lose rows") {
    // foldDeltas commits under the expected-slot guard: a delta landing
    // between its snapshot and its publish must surface in every read —
    // the fold retries or gives up, it never swallows the delta.
    val root = java.nio.file.Files.createTempDirectory("store-foldrace").toString
    val a = new TableStore(spark, root, autoCompactDeltas = 1000)
    val b = new TableStore(spark, root, autoCompactDeltas = 1000)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val n = 10
    val fa = Future { (1 to n).foreach(i => a.append("t", Seq(i).toDF("x"))) }
    val fb = Future { (1 to n).foreach { _ => b.foldDeltas("t") } }
    Await.result(Future.sequence(Seq(fa, fb)), 300.seconds)
    pool.shutdown()
    assert(a.read("t").get.as[Int].collect().sorted.toSeq == (1 to n))
    assert(b.read("t").get.as[Int].collect().sorted.toSeq == (1 to n))
    // the change feed over the whole history delivers each row once
    assert(a.readChangesSince("t", -1L).get.as[Int].collect().sorted.toSeq
      == (1 to n))
  }

  test("appends racing FULL compactions never lose rows or bury deltas") {
    // compact() snapshots live generations and claims the next slot
    // under the expected-seq guard; a delta committed between snapshot
    // and publish must either push the compaction to retry/forfeit or
    // land ABOVE the new full generation — a delta below a full gen
    // that excludes it would be hidden from read() and eligible for
    // gc: silent row loss. Hammer the window and assert the union.
    val root = java.nio.file.Files.createTempDirectory("store-comprace").toString
    val a = new TableStore(spark, root, autoCompactDeltas = 1000)
    val b = new TableStore(spark, root, autoCompactDeltas = 1000)
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
    // every row survives, through either store instance
    assert(a.read("t").get.as[Int].collect().sorted.toSeq == (0 to n))
    assert(b.read("t").get.as[Int].collect().sorted.toSeq == (0 to n))
    // and no staged dir was published twice (a lost race retried after
    // its pointer landed): every generation names its own live data
    val gens = a.history("t").map(g => generation(root, "t", g._1))
    assert(gens.map(_.data).distinct.size == gens.size, gens.mkString(", "))
    assert(gens.forall(_.exists), gens.filterNot(_.exists).mkString(", "))
  }

  test("two compactors racing each other leave one consistent table") {
    val root = java.nio.file.Files.createTempDirectory("store-ccrace").toString
    val a = new TableStore(spark, root, autoCompactDeltas = 1000)
    val b = new TableStore(spark, root, autoCompactDeltas = 1000)
    (1 to 6).foreach(i => a.append("t", Seq(i).toDF("x")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val fs2 = Seq(a, b).map(st => Future { (1 to 4).foreach(_ => st.compact("t")) })
    Await.result(Future.sequence(fs2), 300.seconds)
    pool.shutdown()
    assert(a.read("t").get.as[Int].collect().sorted.toSeq == (1 to 6))
  }

  test("readAt refuses a partial delta chain left by gc stragglers") {
    val root = java.nio.file.Files.createTempDirectory("store-straggler").toString
    val store = new TableStore(spark, root)
    store.append("t", Seq(1).toDF("x")) // g0
    store.append("t", Seq(2).toDF("x")) // g1
    store.append("t", Seq(3).toDF("x")) // g2
    // simulate gc deleting g0/g1 while the grace period kept g2
    drop(root, "t", 0L)
    drop(root, "t", 1L)
    // the surviving chain {g2} must not masquerade as "the table at seq 2"
    intercept[TableStore.VacuumedHistoryException](store.readAt("t", 2L))
  }

  test("change feed throws when the snapshot's history was vacuumed, not 'no changes'") {
    val root = java.nio.file.Files.createTempDirectory("store-vacfeed").toString
    val store = new TableStore(spark, root)
    (1 to 4).foreach(i => store.append("t", Seq(i).toDF("x"))) // g0..g3
    (0 to 2).foreach(i => drop(root, "t", i.toLong))
    // reader checkpointed 0, snapshotted 2: everything <= 2 is gone
    intercept[TableStore.VacuumedHistoryException](
      store.readChangesSince("t", 0L, untilSeq = 2L))
    // an idle snapshot (until == since) still reports no changes cleanly
    assert(store.readChangesSince("t", 3L, untilSeq = 3L).get.isEmpty)
  }

  test("gc spares comp-superseded generations until the comp itself ages past the grace") {
    // The supersession clock is the full generation's OWN commit time,
    // mirroring the fold rule: the superseded generations' own mtimes
    // are arbitrarily old on any long-lived table, and measuring them
    // would let a comp's in-commit gc delete the pre-comp chain the
    // instant the comp committed — under a reader that listed it a
    // moment earlier.
    val root = java.nio.file.Files.createTempDirectory("store-compage").toString
    val store = new TableStore(spark, root, gcGraceMs = 60L * 1000)
    (1 to 3).foreach(i => store.append("t", Seq(i).toDF("x"))) // g0..g2
    // age the deltas far past the grace (the long-lived-table state)
    val old = System.currentTimeMillis() - 3600L * 1000
    (0 to 2).foreach(i => age(root, "t", i.toLong, old))
    val pre = (0 to 2).map(i => generation(root, "t", i.toLong))
    store.compact("t") // g3-comp, fresh mtime; runs gc in-commit
    pre.zipWithIndex.foreach { case (g, i) =>
      assert(g.exists,
        s"pre-comp g$i must survive gc while the comp is inside the grace") }
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    // once the comp itself ages past the grace, the originals go
    assert(store.history("t").last == ((3L, "comp")))
    age(root, "t", 3L, old)
    store.gc("t")
    pre.zipWithIndex.foreach { case (g, i) =>
      assert(g.gone, s"aged-comp-superseded g$i must be reclaimed") }
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("appends racing compactions under zero grace never lose pre-comp rows") {
    // With gcGraceMs=0 a comp's in-commit gc reclaims the pre-comp
    // chain as soon as the comp ages at all, so an append that landed
    // in the comp's slot (listed before the comp, published after)
    // would orphan the table. The create-exclusive pointer gives the
    // slot to exactly one of them and the other moves on; hammer the
    // window and assert nothing is lost.
    val root = java.nio.file.Files.createTempDirectory("store-steal").toString
    val a = new TableStore(spark, root, autoCompactDeltas = 1000, gcGraceMs = 0L)
    val b = new TableStore(spark, root, autoCompactDeltas = 1000, gcGraceMs = 0L)
    a.append("t", Seq(0).toDF("x"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val n = 12
    val fa = Future { (1 to n).foreach(i => a.append("t", Seq(i).toDF("x"))) }
    val fb = Future { (1 to n).foreach(_ => b.compact("t")) }
    Await.result(Future.sequence(Seq(fa, fb)), 300.seconds)
    pool.shutdown()
    assert(a.read("t").get.as[Int].collect().sorted.toSeq == (0 to n),
      "every appended row must survive racing compactions with immediate gc")
  }
}
