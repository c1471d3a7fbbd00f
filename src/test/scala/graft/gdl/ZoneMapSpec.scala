package graft.gdl

import graft.TestSpark
import org.apache.hadoop.fs.Path
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Zone-map file skipping: a range read must open ONLY the generations
  * whose [min,max] can contain the range, and skipping must never
  * change the result — the Delta/Iceberg file-skipping contract. */
class ZoneMapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import StoreFiles.{added, dirsOf, opened}

  private def freshStore() = new TableStore(spark,
    java.nio.file.Files.createTempDirectory("zonemap").toString,
    partitioning = Map.empty)

  private def rows(df: DataFrame) =
    df.as[(Long, String)].collect().toSet

  /** Three delta generations; returns each one's files. */
  private def threeGens(store: TableStore): Seq[Set[String]] =
    Seq("a" -> 0L, "b" -> 100L, "c" -> 200L).map { case (p, lo) =>
      added(store, "t")(store.append("t",
        (lo until lo + 100L).map(i => (i, s"$p$i")).toDF("id", "s")))
    }

  /** How many of the generations (given by their files) `df` opens no
    * file of. */
  private def skipped(gens: Seq[Set[String]], df: DataFrame): Int =
    gens.count(g => (opened(df) & g).isEmpty)

  /** Delete the zone map of the generation holding `files`. */
  private def dropZoneMap(files: Set[String]): Unit =
    dirsOf(files).foreach { d =>
      val zm = new Path(d, TableStore.zoneMapFile)
      zm.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(zm, false)
    }

  test("range probe reads only the overlapping generation") {
    val store = freshStore()
    val gens = threeGens(store)
    val got = store.scan("t", $"id".between(120L, 150L)).get
    assert(skipped(gens, got) == 2)
    // only generation 1's files are opened
    assert(opened(got).forall(gens(1)))
    assert(rows(got) ==
      rows(store.read("t").get.filter($"id".between(120L, 150L))))
  }

  test("a range matching nothing skips every generation but keeps the schema") {
    val store = freshStore()
    val gens = threeGens(store)
    val got = store.scan("t", $"id".between(1000L, 2000L)).get
    assert(skipped(gens, got) == 3)
    assert(got.isEmpty && got.columns.toSeq == Seq("id", "s"))
  }

  test("string zones skip by UTF-8 order") {
    val store = freshStore()
    val gens = threeGens(store)
    val got = store.scan("t", $"s".between("b", "b~")).get
    assert(skipped(gens, got) == 2)
    assert(rows(got) ==
      rows(store.read("t").get.filter($"s".between("b", "b~"))))
    assert(rows(got).nonEmpty)
  }

  test("a generation without a zone map is always read (safety)") {
    val store = freshStore()
    val g0 = added(store, "t")(store.append("t", Seq((1L, "x")).toDF("id", "s")))
    val g1 = added(store, "t")(store.append("t", Seq((500L, "y")).toDF("id", "s")))
    // delete generation 0's zone map: it must become un-skippable
    dropZoneMap(g0)
    val got = store.scan("t", $"id".between(400L, 600L)).get
    assert(skipped(Seq(g0, g1), got) == 0)
    assert(rows(got) == Set((500L, "y")))
  }

  test("a column absent from an old generation skips it; evolution stays correct") {
    val store = freshStore()
    val g0 = added(store, "t")(store.append("t", Seq((1L, "x")).toDF("id", "s")))
    val g1 = added(store, "t")(
      store.append("t", Seq((2L, "y", 7L)).toDF("id", "s", "v")))
    // gen0 has no `v` at all → reads as null there → cannot match a range
    val got = store.scan("t", $"v".between(0L, 100L)).get
    assert(skipped(Seq(g0, g1), got) == 1)
    assert(got.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("predicate column resolves when its only generations are pruned " +
    "and a stats-less one survives") {
    // gen0 carries `v` (zone-mapped, small values); gen1 lacks `v` AND
    // its zone map is deleted, so it is kept un-skippably. A probe on a
    // `v` range disjoint from gen0's zones prunes gen0 — leaving only
    // parts with no `v` column. The scan must still resolve the
    // predicate (null-filled `v`, empty result), matching
    // read(t).filter(...), not throw AnalysisException.
    val store = freshStore()
    store.append("t", Seq((1L, "x", 7L)).toDF("id", "s", "v"))
    dropZoneMap(added(store, "t")(
      store.append("t", Seq((2L, "y")).toDF("id", "s"))))
    val got = store.scan("t", $"v".between(1000L, 2000L)).get
    assert(got.isEmpty)
    assert(got.columns.toSet == Set("id", "s", "v"))
    // and an overlapping probe still finds gen0's row through the same path
    assert(store.scan("t", $"v".between(0L, 100L)).get
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("probeExists replay guard skips non-matching generations") {
    // the streaming replay guard's shape: one generation per batch,
    // constant batch_id — the probe must prune every other generation
    // (O(1) data per micro-batch, not O(table))
    val store = freshStore()
    val gens = (0L until 3L).map(b => added(store, "q")(store.append("q",
      Seq((b, s"row$b")).toDF("batch_id", "s"))))
    assert(store.probeExists("q", $"batch_id" === 1L))
    assert(!store.probeExists("q", $"batch_id" === 99L))
    // pruning is exact here: min==max==batch_id per generation
    assert(skipped(gens, store.scan("q", $"batch_id" === 1L).get) == 2)
    assert(skipped(gens, store.scan("q", $"batch_id" === 99L).get) == 3)
    // absent table / absent column → false, no data touched
    assert(!store.probeExists("nope", $"batch_id" === 1L))
    assert(!store.probeExists("q", $"missing" === 1L))
  }

  test("compaction carries zone maps: skipping still works after folding") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("zonemap-c").toString,
      autoCompactDeltas = 1, partitioning = Map.empty)
    threeGens(store) // autoCompact folds along the way (tier-1: minor)
    assert(store.history("t")
      .exists(g => TableStore.foldStart(g._2).isDefined))
    val got = store.scan("t", $"id".between(120L, 150L)).get
    assert(rows(got) ==
      rows(store.read("t").get.filter($"id".between(120L, 150L))))
  }

  test("scan prunes from a compound predicate and keeps full filter semantics") {
    val store = freshStore()
    val gens = threeGens(store)
    // id range + string equality: both conjuncts prune; the modulo
    // conjunct contributes nothing but still filters rows
    val pred = $"id".between(120L, 150L) && $"s" > "b" && $"id" % 2 === 0
    val got = store.scan("t", pred).get
    assert(skipped(gens, got) == 2)
    assert(opened(got).forall(gens(1)))
    assert(rows(got) == rows(store.read("t").get.filter(pred)))
    assert(rows(got).nonEmpty)
  }

  test("scan with IN prunes to the min-max envelope of the list") {
    val store = freshStore()
    val gens = threeGens(store)
    val pred = $"id".isin(205L, 210L, 290L)
    val got = store.scan("t", pred).get
    assert(skipped(gens, got) == 2)
    assert(rows(got) == rows(store.read("t").get.filter(pred)))
  }

  test("strict inequality at a zone boundary is conservative, never wrong") {
    val store = freshStore()
    val gens = threeGens(store)
    // gen1 max id = 199; `id > 199` can't match gen1 rows but the skip
    // decision relaxes to >=, so gen1 is read and the filter drops it
    val pred = $"id" > 199L && $"id" < 205L
    val got = store.scan("t", pred).get
    assert(rows(got) == rows(store.read("t").get.filter(pred)))
    assert(got.select("id").as[Long].collect().forall(i => i > 199L && i < 205L))
    assert(skipped(gens, got) >= 1) // gen0 is provably disjoint
  }

  test("an OR predicate prunes nothing and stays correct") {
    val store = freshStore()
    val gens = threeGens(store)
    val pred = $"id" === 5L || $"id" === 250L
    val got = store.scan("t", pred).get
    assert(skipped(gens, got) == 0)
    assert(rows(got) == rows(store.read("t").get.filter(pred)))
  }

  test("partition columns (living only in dir names) are zone-mapped too") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("zonemap-p").toString,
      partitioning = Map("t" -> Seq("ds")))
    val gens = Seq(Seq((1L, "dsA"), (2L, "dsA")), Seq((3L, "dsB"))).map(rs =>
      added(store, "t")(store.append("t", rs.toDF("id", "ds"))))
    val got = store.scan("t", $"ds".between("dsB", "dsB")).get
    assert(skipped(gens, got) == 1)
    assert(got.select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("a pruned file subset reads its generation's partition types") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("zonemap-pt").toString,
      partitioning = Map("t" -> Seq("p")))
    store.append("t", Seq(("r1", "007"), ("r2", "a")).toDF("id", "p"))
    val hit = $"p" === "007"
    val got = store.scan("t", hit).get
    // the zone map keeps only the p=007 file; read on its own, its path
    // would infer p as an integer (7)
    assert(got.inputFiles.length == 1)
    assert(got.schema("p").dataType == org.apache.spark.sql.types.StringType)
    val full = store.read("t").get
    assert(full.schema("p").dataType == org.apache.spark.sql.types.StringType)
    val expected = full.filter(hit).as[(String, String)].collect().toSeq
    assert(expected == Seq(("r1", "007")))
    assert(got.as[(String, String)].collect().toSeq == expected)
  }

  test("partition types are the writer's in every generation") {
    val root = java.nio.file.Files.createTempDirectory("zonemap-drift").toString
    val store = new TableStore(spark, root, partitioning = Map("t" -> Seq("p")))
    store.append("t", Seq(("r1", "007")).toDF("id", "p"))
    store.append("t", Seq(("r2", "a")).toDF("id", "p"))
    // the first generation's only dir is p=007: inferred from its name
    // alone, p would read as a number and the union would cast "a" to it
    val full = store.read("t").get
    assert(full.schema("p").dataType == org.apache.spark.sql.types.StringType)
    assert(full.as[(String, String)].collect().toSet == Set(("r1", "007"), ("r2", "a")))
    val first = store.readAt("t", store.history("t").head._1).get
    assert(first.as[(String, String)].collect().toSeq == Seq(("r1", "007")))
  }

  test("building a read or a schema check launches no Spark job") {
    val store = freshStore()
    (0 until 3).foreach(i => store.append("t", Seq((i.toLong, s"v$i")).toDF("id", "s")))
    val sc = spark.sparkContext
    val (df, readJobs) = JobCount(sc)(store.read("t").get)
    val (hasS, checkJobs) = JobCount(sc)(store.columnInAllGenerations("t", "s"))
    assert(readJobs == 0 && checkJobs == 0, s"read $readJobs jobs, check $checkJobs")
    assert(hasS && !store.columnInAllGenerations("t", "nope"))
    assert(rows(df) == Set((0L, "v0"), (1L, "v1"), (2L, "v2")))
  }

  test("a generation without its recorded schema fails the read, naming it") {
    val root = java.nio.file.Files.createTempDirectory("zonemap-noschema").toString
    val store = new TableStore(spark, root, partitioning = Map.empty)
    store.append("t", Seq((1L, "a")).toDF("id", "s"))
    val gen = StoreFiles.generation(root, "t", 0).data
    val schema = new Path(gen, TableStore.schemaFile)
    assert(schema.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(schema, false))
    val e = intercept[IllegalStateException](store.read("t"))
    assert(e.getMessage.contains(gen.getName) && e.getMessage.contains(TableStore.schemaFile))
  }

  test("clustering rewrite turns an unskippable probe into O(matching files)") {
    val store = freshStore()
    // interleave keys across appends: every generation (and most files)
    // spans the whole key range, so nothing can be skipped
    val gens = (0L until 3L).map(r => added(store, "t")(store.append("t",
      (r until 300L by 3).map(i => (i, s"v$i")).toDF("id", "s"))))
    val pred = $"id".between(100L, 120L)
    assert(skipped(gens, store.scan("t", pred).get) == 0)

    store.rewriteClustered("t", $"id", nFiles = 10)
    assert(store.history("t").last._2 == "comp")
    // contents unchanged
    assert(rows(store.read("t").get) ==
      (0L until 300L).map(i => (i, s"v$i")).toSet)
    // the probe now reads a small fraction of the files
    val (kept, total) = store.scanFileCounts("t", pred)
    assert(total >= 10, s"expected >= 10 clustered files, got $total")
    assert(kept <= 2, s"expected <= 2 overlapping files, got $kept/$total")
    val got = store.scan("t", pred).get
    assert(got.inputFiles.length == kept)
    assert(rows(got) == rows(store.read("t").get.filter(pred)))
  }

  test("clustering a partitioned table keeps the layout and the skip") {
    val store = new TableStore(spark,
      java.nio.file.Files.createTempDirectory("zonemap-pc").toString,
      partitioning = Map("t" -> Seq("ds")))
    store.append("t", (0L until 100L).map(i =>
      (i, if (i % 2 == 0) "dsA" else "dsB")).toDF("id", "ds"))
    store.rewriteClustered("t", $"id", nFiles = 5)
    val pred = $"ds" === "dsA" && $"id" < 10L
    val got = store.scan("t", pred).get
    assert(got.as[(Long, String)].collect().toSet ==
      (0L until 10L by 2).map(i => (i, "dsA")).toSet)
    val (kept, total) = store.scanFileCounts("t", pred)
    assert(kept < total, s"expected file pruning, got $kept/$total")
  }

  test("2-D z-order clustering makes a box probe read few files") {
    val store = freshStore()
    // 32x32 grid of points, row-major (so x and y both interleave
    // within any contiguous write — neither column alone clusters)
    val pts = for (x <- 0L until 32L; y <- 0L until 32L)
      yield (x * 32 + y, x, y)
    store.append("t", pts.toDF("id", "x", "y"))
    store.rewriteClustered("t",
      graft.functions.ZOrder2.zorder($"x", $"y", 8), nFiles = 16)
    // a small box touches both columns; z-order keeps it in few files
    val pred = $"x".between(4L, 7L) && $"y".between(8L, 11L)
    val (kept, total) = store.scanFileCounts("t", pred)
    assert(total >= 16, s"expected >= 16 clustered files, got $total")
    assert(kept <= 4, s"z-order box probe should read <= 4 files, got $kept/$total")
    val got = store.scan("t", pred).get
    assert(rows2(got) == rows2(store.read("t").get.filter(pred)))
  }

  test("z-order prunes BOTH dimensions where 1-D clustering covers one") {
    // same grid, two layouts: clustered by x alone vs by z_order(x, y).
    // The x-layout answers x-probes perfectly but cannot prune a
    // y-probe at all (every file spans all of y); the z-layout prunes
    // both probes — the reason to pay for multi-column clustering.
    val pts = for (x <- 0L until 32L; y <- 0L until 32L)
      yield (x * 32 + y, x, y)
    val byX = freshStore()
    byX.append("t", pts.toDF("id", "x", "y"))
    byX.rewriteClustered("t", $"x", nFiles = 16)
    val byZ = freshStore()
    byZ.append("t", pts.toDF("id", "x", "y"))
    byZ.rewriteClustered("t",
      graft.functions.ZOrder2.zorder($"x", $"y", 8), nFiles = 16)

    val yProbe = $"y".between(8L, 11L)
    val (keptXy, totalXy) = byX.scanFileCounts("t", yProbe)
    val (keptZy, totalZy) = byZ.scanFileCounts("t", yProbe)
    assert(totalXy >= 16 && totalZy >= 16)
    // x-layout: every range-partition of x contains every y → no skips
    assert(keptXy == totalXy, s"x-layout should not prune y, got $keptXy/$totalXy")
    // z-layout: 64-row chunks have y-extent 8 → the 4-wide band sits
    // inside one aligned y-octave, ~1/4 of the files
    assert(keptZy <= totalZy / 2, s"z-layout y-probe read $keptZy/$totalZy")
    // and the z-layout still prunes x-probes (not as tightly as the
    // dedicated x-layout, which is the trade being bought)
    val xProbe = $"x".between(4L, 7L)
    val (keptZx, totalZx) = byZ.scanFileCounts("t", xProbe)
    assert(keptZx <= totalZx / 2, s"z-layout x-probe read $keptZx/$totalZx")
    // values identical under every layout/probe combination
    assert(rows2(byZ.scan("t", yProbe).get) ==
           rows2(byX.scan("t", yProbe).get))
  }

  private def rows2(df: DataFrame) =
    df.select("id", "x", "y").as[(Long, Long, Long)].collect().toSet

  test("filtered change feed prunes delta files and keeps the protocol") {
    val store = freshStore()
    val gens = threeGens(store)
    // consumer checkpointed at g0; wants only ids >= 200 → g1 (100-199)
    // is provably disjoint and never opened
    val pred = $"id" >= 200L
    val feed = store.readChangesSinceWhere("t", 0L, pred).get
    assert(rows(feed) == rows(store.readChangesSince("t", 0L).get.filter(pred)))
    assert(opened(feed).forall(gens(2)))
    // pruning must not mask protocol failures: an overwrite still throws
    store.overwrite("t", Seq((999L, "z")).toDF("id", "s"))
    intercept[TableStore.FullRefreshRequiredException](
      store.readChangesSinceWhere("t", 0L, pred))
  }

  test("all-null column zones are skippable; a later real value is found") {
    val store = freshStore()
    val gens = Seq(null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(9L))
      .zipWithIndex.map { case (v, i) => added(store, "t")(
        store.append("t", Seq((i + 1L, v)).toDF("id", "v"))) }
    val got = store.scan("t", $"v".between(0L, 100L)).get
    assert(skipped(gens, got) == 1)
    assert(got.select("id").as[Long].collect().toSeq == Seq(2L))
  }
}
