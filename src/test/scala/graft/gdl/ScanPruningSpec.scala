package graft.gdl

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Seeded properties of the pruned read path. Over generated store
  * histories (appends, row-level merges and deletes that tombstone
  * files, generations whose sidecars were deleted, a column added part
  * way through; partitioned and flat layouts, Bloom sidecars on and
  * off) and generated predicates (every comparison, BETWEEN, IN, `<=>`,
  * AND/OR, null literals, non-ASCII strings):
  *  - `scan(t, p)` returns exactly the rows of `read(t).filter(p)`;
  *  - every file the scan opens belongs to the current snapshot;
  *  - `scanFileCounts(t, p)` is (files the scan opens, files in the
  *    snapshot), with or without stats — the counters report the
  *    decision the scan made, not a separate estimate;
  *  - every live file of a generation with stats holds a row: its zone
  *    map lists it.
  * Partition values include numeric-looking ones ("007", "10"): a
  * generation holding only those must still read `p` as the writer's
  * string. Partition values stay ASCII: they become directory names,
  * which a JVM started without a UTF-8 `sun.jnu.encoding` cannot
  * create. */
class ScanPruningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val strings = Seq("a", "ab", "b", "z", "é", "ß", "ü", "Ā", "ḃ",
    "日本", "ÿ", "á")
  private val partValues = Seq("pa", "pb", "pc", "007", "10")

  private type Row4 = (Long, Option[String], String, Option[Long])

  private sealed trait Op
  private final case class Append(rows: Seq[Row4], files: Int) extends Op
  private final case class Merge(rows: Seq[Row4]) extends Op
  private final case class Delete(lo: Long, hi: Long) extends Op
  private final case class DropSidecar(pick: Int, zone: Boolean) extends Op
  private case object AddColumn extends Op

  private final case class History(partitioned: Boolean, bloom: Boolean,
                                   ops: Seq[Op])

  private val row: Gen[Row4] = for {
    k <- Gen.chooseNum(0L, 40L)
    s <- Gen.option(Gen.oneOf(strings))
    p <- Gen.oneOf(partValues)
    v <- Gen.option(Gen.chooseNum(-5L, 30L))
  } yield (k, s, p, v)

  private val append: Gen[Op] = for {
    n <- Gen.chooseNum(1, 12)
    rows <- Gen.listOfN(n, row)
    files <- Gen.chooseNum(1, 3)
  } yield Append(rows, files)

  private val merge: Gen[Op] =
    Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, row))
      .map(rows => Merge(rows.groupBy(_._1).values.map(_.head).toSeq))

  private val delete: Gen[Op] = for {
    lo <- Gen.chooseNum(0L, 40L)
    w <- Gen.chooseNum(0L, 4L)
  } yield Delete(lo, lo + w)

  private val dropSidecar: Gen[Op] = for {
    pick <- Gen.chooseNum(0, 1000)
    zone <- Gen.oneOf(true, false)
  } yield DropSidecar(pick, zone)

  /** Two appends, then every other kind of step in a generated order. */
  private def history(partitioned: Boolean, bloom: Boolean): Gen[History] =
    for {
      first <- Gen.listOfN(2, append)
      extra <- Gen.listOfN(2, Gen.oneOf(append, merge, delete))
      steps <- Gen.sequence[List[Op], Op](List(append, merge, delete, dropSidecar))
      rest = AddColumn :: steps ++ extra
      keys <- Gen.listOfN(rest.size, Gen.chooseNum(0, Int.MaxValue))
    } yield History(partitioned, bloom,
      first ++ rest.zip(keys).sortBy(_._2).map(_._1))

  private val cmps: Seq[(Column, Column) => Column] =
    Seq(_ === _, _ < _, _ <= _, _ > _, _ >= _, _ <=> _)

  /** A predicate atom over the columns the table has. */
  private def atom(hasV: Boolean): Gen[Column] = {
    val longCol = if (hasV) Gen.oneOf("k", "v") else Gen.const("k")
    val strCol = Gen.oneOf("s", "p")
    val longLit = Gen.chooseNum(-2L, 42L)
    val strLit = Gen.oneOf(strings ++ partValues)
    Gen.oneOf(
      for (c <- longCol; x <- longLit; op <- Gen.oneOf(cmps))
        yield op(col(c), lit(x)),
      for (c <- strCol; x <- strLit; op <- Gen.oneOf(cmps))
        yield op(col(c), lit(x)),
      // literal on the left: the pruning must flip the comparison
      for (c <- longCol; x <- longLit; op <- Gen.oneOf(cmps))
        yield op(lit(x), col(c)),
      for (c <- strCol; x <- strLit; op <- Gen.oneOf(cmps))
        yield op(lit(x), col(c)),
      for (c <- longCol; a <- longLit; w <- Gen.chooseNum(0L, 10L))
        yield col(c).between(a, a + w),
      for (c <- strCol; a <- strLit; b <- strLit)
        yield col(c).between(a, b),
      for (c <- longCol; xs <- Gen.nonEmptyListOf(longLit))
        yield col(c).isin(xs.take(4): _*),
      for (c <- strCol; xs <- Gen.nonEmptyListOf(strLit))
        yield col(c).isin(xs.take(4): _*),
      // null literals: `=` never matches, `<=>` matches null rows
      for (c <- longCol; op <- Gen.oneOf(cmps))
        yield op(col(c), lit(null).cast("long")),
      for (c <- strCol; op <- Gen.oneOf(cmps))
        yield op(col(c), lit(null).cast("string")),
      longCol.map(c => col(c).isin(1L, null)))
  }

  private def predicate(hasV: Boolean, depth: Int): Gen[Column] =
    if (depth == 0) atom(hasV)
    else Gen.frequency(
      2 -> atom(hasV),
      2 -> Gen.zip(predicate(hasV, depth - 1), predicate(hasV, depth - 1))
        .map { case (a, b) => a && b },
      1 -> Gen.zip(predicate(hasV, depth - 1), predicate(hasV, depth - 1))
        .map { case (a, b) => a || b })

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).getOrElse(
      throw new IllegalStateException(s"generator gave up at seed $seed"))

  private def frame(rows: Seq[Row4], withV: Boolean, files: Int): DataFrame =
    if (withV) rows.toDF("k", "s", "p", "v").repartition(files)
    else rows.map(r => (r._1, r._2, r._3)).toDF("k", "s", "p").repartition(files)

  /** Replay `h` into a fresh store; returns it and whether the table
    * ended up with the added column (a step after AddColumn wrote it). */
  private def build(h: History): (TableStore, Boolean) = {
    val root = java.nio.file.Files.createTempDirectory("scanprune").toString
    val store = new TableStore(spark, root, autoCompactDeltas = 4,
      partitioning = if (h.partitioned) Map("t" -> Seq("p")) else Map.empty,
      bloomColumns = if (h.bloom) Map("t" -> Seq("k", "s")) else Map.empty,
      bloomBitsPerFile = 1 << 12)
    var withV = false
    h.ops.foreach {
      case Append(rows, files) => store.append("t", frame(rows, withV, files))
      case Merge(rows) => store.merge("t", frame(rows, withV, 1), Seq("k"))
      case Delete(lo, hi) => store.deleteWhere("t", col("k").between(lo, hi))
      case DropSidecar(pick, zone) =>
        val seqs = store.history("t").map(_._1)
        val dir = StoreFiles.generation(root, "t", seqs(pick % seqs.size)).data
        new java.io.File(dir.toUri.getPath,
          if (zone) TableStore.zoneMapFile else TableStore.bloomFile).delete()
      case AddColumn => withV = true
    }
    (store, store.read("t").get.columns.contains("v"))
  }

  private def bag(df: DataFrame): Map[List[Any], Int] =
    df.select(df.columns.sorted.toSeq.map(col): _*).collect()
      .map(_.toSeq.toList).groupBy(identity).map { case (r, rs) => r -> rs.length }

  private val genFile = "(.*/_data-[^/]+)/(.+)".r

  /** Every live file of a generation that has a zone map is one the map
    * lists, i.e. one that holds a row. A commit with no rows at all
    * keeps its schema-bearing file and lists none. */
  private def assertSidecarsCover(snapshot: Set[String], clue: String): Unit =
    snapshot.toSeq.collect { case genFile(dir, rel) => (dir, rel) }
      .groupBy(_._1).foreach { case (dir, files) =>
        val zm = new java.io.File(dir, TableStore.zoneMapFile)
        if (zm.exists) {
          val listed = TableStore.parseZoneMap(new String(
            java.nio.file.Files.readAllBytes(zm.toPath), "UTF-8")).keySet
          if (listed.nonEmpty)
            assert(files.map(_._2).toSet.subsetOf(listed), s"$dir: $clue")
        }
      }

  private def check(partitioned: Boolean, bloom: Boolean, seed: Long): Unit = {
    val h = sample(history(partitioned, bloom), seed)
    val (store, withV) = build(h)
    val full = store.read("t").get
    val snapshot = StoreFiles.snapshot(store, "t")
    assertSidecarsCover(snapshot, s"seed $seed, $h")
    (0 until 8).foreach { i =>
      val p = sample(predicate(withV, 2), seed * 1000 + i)
      val clue = s"seed $seed, $h, predicate $p"
      val got = store.scan("t", p).get
      assert(bag(got) == bag(full.filter(p)), clue)
      val opened = StoreFiles.opened(got)
      assert(opened.subsetOf(snapshot), clue)
      assert(store.scanFileCounts("t", p) == ((opened.size, snapshot.size)), clue)
    }
  }

  for (partitioned <- Seq(false, true); bloom <- Seq(false, true)) {
    val layout = (if (partitioned) "partitioned" else "flat") +
      (if (bloom) ", Bloom" else ", no Bloom")
    test(s"scan equals read.filter and scanFileCounts equals the opened files ($layout)") {
      Seq(11L, 29L).foreach(seed =>
        check(partitioned, bloom, seed + (if (partitioned) 100 else 0) +
          (if (bloom) 200 else 0)))
    }
  }
}
