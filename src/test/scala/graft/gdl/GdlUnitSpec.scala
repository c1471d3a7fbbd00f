package graft.gdl

import java.security.MessageDigest
import java.time.Instant
import graft.TestSpark
import graft.gdl.expr.{StacValidator, StrictJson}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

object TestFixtures {
  def sha256Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
  def sha512Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-512").digest(bytes).map("%02x".format(_)).mkString
  /** ≙ tests/stac_generators.py:12-23: "12" + "20" + sha256 hex. */
  def multihash256(bytes: Array[Byte]): String = "1220" + sha256Hex(bytes)
  def multihash512(bytes: Array[Byte]): String = "1340" + sha512Hex(bytes)
}

class StrictJsonSpec extends AnyFunSuite {
  test("clean document parses with no duplicates") {
    val out = StrictJson.parse("""{"a": 1, "b": {"c": [1, 2]}}""")
    assert(out.parseError.isEmpty && out.duplicateKeys.isEmpty)
    assert(out.node.get.get("a").asLong() == 1L)
  }

  test("duplicate keys recorded, first value wins") {
    val out = StrictJson.parse("""{"k": 1, "k": 2, "k": 3, "other": {"k": 9, "k": 8}}""")
    assert(out.parseError.isEmpty)
    assert(out.duplicateKeys == Seq("k", "k", "k")) // every repeat, per object
    assert(out.node.get.get("k").asLong() == 1L)    // first wins
    assert(out.node.get.get("other").get("k").asLong() == 9L)
  }

  test("malformed json reports parse error") {
    assert(StrictJson.parse("""{"a": """).parseError.isDefined)
    assert(StrictJson.parse("""{"a": 1} trailing""").parseError.isDefined)
  }
}

class StacValidatorSpec extends AnyFunSuite {
  private def parse(s: String) = StrictJson.parse(s).node.get

  private val catalog =
    """{"type":"Catalog","stac_version":"1.0.0-rc.3","id":"c1",
        "description":"d","links":[]}"""
  private val collection =
    """{"type":"Collection","stac_version":"1.0.0-rc.3","id":"c2",
        "description":"d","license":"MIT",
        "extent":{"spatial":{"bbox":[[-180,-90,180,90]]},
                  "temporal":{"interval":[["2000-01-01T00:00:00Z",null]]}},
        "links":[]}"""
  private val item =
    """{"type":"Feature","stac_version":"1.0.0-rc.3","id":"i1",
        "geometry":null,"properties":{"datetime":"2000-01-01T00:00:00Z"},
        "assets":{"a":{"href":"s3://b/f.bin","file:checksum":"1220ab"}},
        "links":[]}"""

  test("minimal fixtures validate") {
    assert(StacValidator.validate(parse(catalog), "Catalog").isEmpty)
    assert(StacValidator.validate(parse(collection), "Collection").isEmpty)
    assert(StacValidator.validate(parse(item), "Feature").isEmpty)
  }

  test("missing required property fails with jsonschema-style message") {
    val noLicense = parse(collection.replace(""""license":"MIT",""", ""))
    assert(StacValidator.validate(noLicense, "Collection")
      .contains("'license' is a required property"))
    val noChecksum = parse(item.replace(""","file:checksum":"1220ab"""", ""))
    assert(StacValidator.validate(noChecksum, "Feature")
      .contains("'file:checksum' is a required property"))
  }

  test("unknown type fails") {
    assert(StacValidator.validate(parse(catalog), "Nope").isDefined)
  }

  // ---- Draft-7 depth: each rejection class the bundled schemas pin ----

  private def patchedItem(patch: String => String) = parse(patch(item))
  private def patchedColl(patch: String => String) = parse(patch(collection))

  test("type and stac_version consts are enforced per schema") {
    // a Catalog doc run through the Collection validator is a const
    // violation, not merely missing-license
    assert(StacValidator.validate(parse(catalog), "Collection")
      .contains("'Catalog' is not one of ['Collection']"))
    val badVer = patchedItem(_.replace("1.0.0-rc.3", "0.9.0"))
    assert(StacValidator.validate(badVer, "Feature")
      .contains("'0.9.0' is not one of ['1.0.0-rc.3']"))
  }

  test("link objects require rel as well as href") {
    val noRel = patchedColl(_.replace(""""links":[]""",
      """"links":[{"href":"s3://b/x.json"}]"""))
    assert(StacValidator.validate(noRel, "Collection")
      .contains("'rel' is a required property"))
  }

  test("item geometry-bbox oneOf pairing") {
    // non-null geometry without bbox → bbox required
    val geomNoBbox = patchedItem(_.replace(""""geometry":null""",
      """"geometry":{"type":"Point","coordinates":[170.0,-45.0]}"""))
    assert(StacValidator.validate(geomNoBbox, "Feature")
      .contains("'bbox' is a required property"))
    // with a well-formed bbox → valid
    val geomBbox = patchedItem(_.replace(""""geometry":null""",
      """"geometry":{"type":"Point","coordinates":[170.0,-45.0]},
         "bbox":[169.9,-45.1,170.1,-44.9]"""))
    assert(StacValidator.validate(geomBbox, "Feature").isEmpty)
    // null geometry FORBIDS bbox
    val nullGeomBbox = patchedItem(_.replace(""""geometry":null""",
      """"geometry":null,"bbox":[169.9,-45.1,170.1,-44.9]"""))
    assert(StacValidator.validate(nullGeomBbox, "Feature")
      .contains("'bbox' must not be present when 'geometry' is null"))
  }

  test("geometry type enum and coordinates") {
    val badType = patchedItem(_.replace(""""geometry":null""",
      """"geometry":{"type":"Circle","coordinates":[0,0]},
         "bbox":[0,0,0,0]"""))
    assert(StacValidator.validate(badType, "Feature").get
      .startsWith("'Circle' is not one of"))
    val noCoords = patchedItem(_.replace(""""geometry":null""",
      """"geometry":{"type":"Polygon"},"bbox":[0,0,0,0]"""))
    assert(StacValidator.validate(noCoords, "Feature")
      .contains("'coordinates' is a required property"))
    // GeometryCollection takes geometries, recursively validated
    val gcOk = patchedItem(_.replace(""""geometry":null""",
      """"geometry":{"type":"GeometryCollection","geometries":
           [{"type":"Point","coordinates":[1,2]}]},
         "bbox":[1,2,1,2]"""))
    assert(StacValidator.validate(gcOk, "Feature").isEmpty)
    val gcBad = patchedItem(_.replace(""""geometry":null""",
      """"geometry":{"type":"GeometryCollection","geometries":
           [{"type":"Point"}]},
         "bbox":[1,2,1,2]"""))
    assert(StacValidator.validate(gcBad, "Feature")
      .contains("'coordinates' is a required property"))
  }

  test("bbox arity is 4 or 6 numbers") {
    val fiveElems = patchedItem(_.replace(""""geometry":null""",
      """"geometry":{"type":"Point","coordinates":[0,0]},
         "bbox":[1,2,3,4,5]"""))
    assert(StacValidator.validate(fiveElems, "Feature")
      .contains("'bbox' has 5 elements; 4 or 6 required"))
    val sixOk = patchedItem(_.replace(""""geometry":null""",
      """"geometry":{"type":"Point","coordinates":[0,0]},
         "bbox":[1,2,0,3,4,100]"""))
    assert(StacValidator.validate(sixOk, "Feature").isEmpty)
    val nonNum = patchedColl(_.replace("[[-180,-90,180,90]]",
      """[[-180,"-90",180,90]]"""))
    assert(StacValidator.validate(nonNum, "Collection")
      .contains("'bbox' elements are not of type 'number'"))
    val empty = patchedColl(_.replace("[[-180,-90,180,90]]", "[]"))
    assert(StacValidator.validate(empty, "Collection")
      .contains("'bbox' is too short (minItems 1)"))
  }

  test("item datetime format-checked, nullable via start/end pair") {
    val bad = patchedItem(_.replace("2000-01-01T00:00:00Z", "not a datetime"))
    assert(StacValidator.validate(bad, "Feature")
      .contains("'not a datetime' is not a 'date-time'"))
    // RFC 3339 needs an offset — a naive local datetime fails
    val naive = patchedItem(_.replace("2000-01-01T00:00:00Z", "2000-01-01T00:00:00"))
    assert(StacValidator.validate(naive, "Feature")
      .contains("'2000-01-01T00:00:00' is not a 'date-time'"))
    val offset = patchedItem(_.replace("2000-01-01T00:00:00Z", "2000-01-01T13:45:30+13:00"))
    assert(StacValidator.validate(offset, "Feature").isEmpty)
    // datetime:null alone → start_datetime required
    val nullOnly = patchedItem(_.replace(""""datetime":"2000-01-01T00:00:00Z"""",
      """"datetime":null"""))
    assert(StacValidator.validate(nullOnly, "Feature")
      .contains("'start_datetime' is a required property"))
    val range = patchedItem(_.replace(""""datetime":"2000-01-01T00:00:00Z"""",
      """"datetime":null,"start_datetime":"2000-01-01T00:00:00Z",
         "end_datetime":"2000-01-02T00:00:00Z""""))
    assert(StacValidator.validate(range, "Feature").isEmpty)
  }

  test("collection temporal interval bounds are date-time or null") {
    // ≙ tests/test_check_stac_metadata.py:395-400
    val bad = patchedColl(_.replace("2000-01-01T00:00:00Z", "not a datetime"))
    assert(StacValidator.validate(bad, "Collection")
      .contains("'not a datetime' is not a 'date-time'"))
    val triple = patchedColl(_.replace("""[["2000-01-01T00:00:00Z",null]]""",
      """[["2000-01-01T00:00:00Z",null,null]]"""))
    assert(StacValidator.validate(triple, "Collection")
      .contains("'interval' item has 3 elements; 2 required"))
    val numBound = patchedColl(_.replace("""[["2000-01-01T00:00:00Z",null]]""",
      """[[42,null]]"""))
    assert(StacValidator.validate(numBound, "Collection")
      .contains("'interval' bounds are not of type 'string' or null"))
    val emptyIv = patchedColl(_.replace("""[["2000-01-01T00:00:00Z",null]]""", "[]"))
    assert(StacValidator.validate(emptyIv, "Collection")
      .contains("'interval' is too short (minItems 1)"))
  }
}

class UlidSpec extends AnyFunSuite {
  test("human-readable format matches the reference shape") {
    val id = Ulid.generate(Instant.parse("2021-02-01T13:38:40.776Z"), new Random(1))
    assert(id.startsWith("2021-02-01T13-38-40-776Z_"))
    assert(id.split("_")(1).length == 16)
  }
  test("title charset rule") {
    assert(Ulid.validTitle("Auckland_2020-b"))
    assert(!Ulid.validTitle("bad title!"))
  }
}

class ChecksumSpec extends AnyFunSuite {
  import TestFixtures._
  private val bytes = Array.tabulate[Byte](2500)(_.toByte) // > 2 chunks
  private val reader = new InMemoryUrlReader(Map("s3://b/f" -> bytes))

  test("sha256 pass") {
    val r = ChecksumValidator.validateOne(reader, "d", "v", "s3://b/f", multihash256(bytes))
    assert(r.result == Result.Passed && r.check == Check.Checksum)
  }
  test("sha512 pass") {
    val r = ChecksumValidator.validateOne(reader, "d", "v", "s3://b/f", multihash512(bytes))
    assert(r.result == Result.Passed)
  }
  test("digests match the published FIPS 180 known-answer vectors") {
    // DuckDB has no sha512, so the 0x13 multihash path has no SQL
    // oracle; pin both digests to the NIST test vectors for "abc"
    // instead of re-deriving expected values from the same JDK call
    val abc = "abc".getBytes("US-ASCII")
    val kat = new InMemoryUrlReader(Map("s3://b/abc" -> abc))
    val mh256 = "1220" +
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"
    val mh512 = "1340" +
      "ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a" +
      "2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f"
    assert(ChecksumValidator.validateOne(kat, "d", "v", "s3://b/abc", mh256)
      .result == Result.Passed)
    assert(ChecksumValidator.validateOne(kat, "d", "v", "s3://b/abc", mh512)
      .result == Result.Passed)
  }
  test("mismatch fails with reference message shape") {
    val wrong = "1220" + "0" * 64
    val r = ChecksumValidator.validateOne(reader, "d", "v", "s3://b/f", wrong)
    assert(r.result == Result.Failed)
    assert(r.details("message") ==
      s"Checksum mismatch: expected ${"0" * 64}, got ${sha256Hex(bytes)}")
  }
  test("missing object is a staging-access failure") {
    val r = ChecksumValidator.validateOne(reader, "d", "v", "s3://b/missing", "1220ab")
    assert(r.check == Check.StagingAccess && r.result == Result.Failed)
  }
  test("unknown fn code fails instead of crashing") {
    val r = ChecksumValidator.validateOne(reader, "d", "v", "s3://b/f", "ff20ab")
    assert(r.result == Result.Failed)
  }
}

class TableStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("append/overwrite/read with generations and GC") {
    val root = java.nio.file.Files.createTempDirectory("store").toString
    val store = new TableStore(spark, root)
    assert(store.read("t").isEmpty)
    store.append("t", Seq(1, 2).toDF("x"))
    store.append("t", Seq(3).toDF("x"))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    store.overwrite("t", Seq(9).toDF("x"))
    assert(store.read("t").get.as[Int].collect().toSeq == Seq(9))
    store.append("t", Seq(10).toDF("x"))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(9, 10))
    store.compact("t")
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(9, 10))
    store.append("t", Seq(11).toDF("x"))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(9, 10, 11))
  }

  test("readAt time-travels to any retained generation; history lists them") {
    val root = java.nio.file.Files.createTempDirectory("store-tt").toString
    val store = new TableStore(spark, root) // default grace keeps history
    store.append("t", Seq(1).toDF("x"))     // g0-delta
    store.append("t", Seq(2).toDF("x"))     // g1-delta
    store.overwrite("t", Seq(9).toDF("x"))  // g2-full
    store.append("t", Seq(10).toDF("x"))    // g3-delta
    assert(store.history("t") ==
      Seq((0L, "delta"), (1L, "delta"), (2L, "full"), (3L, "delta")))
    assert(store.readAt("t", 0).get.as[Int].collect().toSeq == Seq(1))
    assert(store.readAt("t", 1).get.as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(store.readAt("t", 2).get.as[Int].collect().toSeq == Seq(9))
    assert(store.readAt("t", 3).get.as[Int].collect().sorted.toSeq == Seq(9, 10))
    // as-of a future seq = current contents; a seq with no surviving
    // generation (predates the first commit / gc'd) throws — it must not
    // be mistaken for an absent table; never-written tables are None
    assert(store.readAt("t", 99).get.as[Int].collect().sorted.toSeq == Seq(9, 10))
    intercept[TableStore.VacuumedHistoryException](store.readAt("t", -1))
    assert(store.readAt("never_written", 0).isEmpty)
    // compaction doesn't disturb pre-compaction reads while retained
    store.compact("t")                      // g4-full
    assert(store.readAt("t", 1).get.as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == Seq(9, 10))
  }

  test("readLatestBy resolves the highest seq per key (status-delta reads)") {
    val root = java.nio.file.Files.createTempDirectory("store-latest").toString
    val store = new TableStore(spark, root)
    store.append("t", Seq(("e1", 0L, "Running"), ("e2", 0L, "Running")).toDF("id", "seq", "st"))
    store.append("t", Seq(("e1", 1L, "Succeeded")).toDF("id", "seq", "st"))
    val latest = store.readLatestBy("t", Seq("id"), "seq").get
      .select("id", "st").as[(String, String)].collect().sorted.toSeq
    assert(latest == Seq(("e1", "Succeeded"), ("e2", "Running")))
  }

  test("auto-compaction bounds delta count without changing contents") {
    val root = java.nio.file.Files.createTempDirectory("store-ac").toString
    val store = new TableStore(spark, root, autoCompactDeltas = 3, gcGraceMs = 0L)
    (1 to 10).foreach(i => store.append("t", Seq(i).toDF("x")))
    assert(store.read("t").get.as[Int].collect().sorted.toSeq == (1 to 10))
    // reclaim deterministically: backdate generations (filesystem mtime
    // granularity must not keep superseded gens inside the 0ms grace)
    StoreFiles.ageAll(store, root, "t")
    store.gc("t")
    // listings stay bounded: folds collapse the delta runs
    assert(store.history("t").size <= 4)
    // tier-1 auto-maintenance commits FOLD generations (minor
    // compaction — O(run), never a table rewrite)
    assert(store.history("t").exists(g => TableStore.foldStart(g._2).isDefined))
  }

  test("readChangesSince streams appends, skips compaction, rejects overwrite") {
    val root = java.nio.file.Files.createTempDirectory("store-cdc").toString
    val store = new TableStore(spark, root, autoCompactDeltas = 100)
    assert(store.readChangesSince("t", -1L).isEmpty) // never written
    store.append("t", Seq(1).toDF("x"))              // g0
    store.append("t", Seq(2).toDF("x"))              // g1
    assert(store.readChangesSince("t", -1L).get.as[Int].collect().sorted.toSeq
      == Seq(1, 2))
    assert(store.readChangesSince("t", 0L).get.as[Int].collect().toSeq == Seq(2))
    assert(store.readChangesSince("t", 1L).get.isEmpty) // checkpoint current
    store.compact("t")                               // g2-comp: no data change
    assert(store.readChangesSince("t", 1L).get.isEmpty) // checkpoint survives
    store.append("t", Seq(3).toDF("x"))              // g3
    assert(store.readChangesSince("t", 1L).get.as[Int].collect().toSeq == Seq(3))
    store.overwrite("t", Seq(9).toDF("x"))           // g4-full: replacement
    intercept[TableStore.FullRefreshRequiredException](
      store.readChangesSince("t", 3L))
  }

  test("readChangesSince raises on gc'd history instead of silently missing rows") {
    val root = java.nio.file.Files.createTempDirectory("store-cdc-gc").toString
    val store = new TableStore(spark, root, autoCompactDeltas = 100, gcGraceMs = 0L)
    store.append("t", Seq(1).toDF("x"))              // g0
    store.append("t", Seq(2).toDF("x"))              // g1
    store.compact("t")                               // g2-comp; gc eats g0,g1
    // a reader checkpointed before the gc'd deltas must NOT read an
    // empty feed and believe it is caught up
    intercept[TableStore.VacuumedHistoryException](
      store.readChangesSince("t", -1L))
    // a reader already past them is unaffected
    assert(store.readChangesSince("t", 1L).get.isEmpty)
  }

  test("superseded generations survive the GC grace period for live readers") {
    val root = java.nio.file.Files.createTempDirectory("store-grace").toString
    val store = new TableStore(spark, root) // default grace: 10 min
    store.append("t", Seq(1, 2).toDF("x"))
    val before = store.read("t").get // lazy plan holding g0's files
    store.overwrite("t", Seq(9).toDF("x"))
    // overwrite supersedes g0 but must NOT delete it inside the grace
    // period — the retained reader still resolves
    assert(before.as[Int].collect().sorted.toSeq == Seq(1, 2))
    assert(store.read("t").get.as[Int].collect().toSeq == Seq(9))
    // with the grace elapsed (simulated by grace=0) gc drops superseded gens
    val eager = new TableStore(spark, root, gcGraceMs = 0L)
    eager.gc("t")
    assert(eager.history("t").size == 1)
    assert(eager.read("t").get.as[Int].collect().toSeq == Seq(9))
  }

  test("concurrent appends from two writers never lose rows") {
    val root = java.nio.file.Files.createTempDirectory("store-conc").toString
    // two TableStore instances over the same dir ≙ two writer processes
    val a = new TableStore(spark, root)
    val b = new TableStore(spark, root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // generation-name races surface as rename failures (atomic commit);
    // retry like any optimistic-concurrency writer would
    def appendWithRetry(s: TableStore, v: Int): Unit = {
      var done = false
      while (!done) {
        try { s.append("t", Seq(v).toDF("x")); done = true }
        catch { case _: IllegalStateException => () }
      }
    }
    val fs = (1 to 6).map { i =>
      Future { appendWithRetry(if (i % 2 == 0) a else b, i) }
    }
    Await.result(Future.sequence(fs), 120.seconds)
    pool.shutdown()
    assert(a.read("t").get.as[Int].collect().sorted.toSeq == (1 to 6))
  }

  test("appends racing auto-compaction never lose rows") {
    // the lost-write hazard: compact() snapshots, then commits a full
    // generation — a delta landing in between must NOT end up below the
    // full gen (hidden from read, deleted by gc). The expected-slot
    // claim makes such a compaction abort and retry instead.
    val root = java.nio.file.Files.createTempDirectory("store-accomp").toString
    val writer = new TableStore(spark, root, autoCompactDeltas = 2, gcGraceMs = 0L)
    val compactor = new TableStore(spark, root, autoCompactDeltas = 2, gcGraceMs = 0L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val appends = Future {
      (1 to 12).foreach { i =>
        var done = false
        while (!done) {
          try { writer.append("t", Seq(i).toDF("x")); done = true }
          catch { case _: IllegalStateException => () }
        }
      }
    }
    val compactions = Future { (1 to 8).foreach(_ => compactor.compact("t")) }
    Await.result(Future.sequence(Seq(appends, compactions)), 180.seconds)
    pool.shutdown()
    assert(writer.read("t").get.as[Int].collect().sorted.toSeq == (1 to 12))
  }

  test("generations written before a column existed stay readable") {
    val root = java.nio.file.Files.createTempDirectory("store-evolve").toString
    val store = new TableStore(spark, root)
    store.append("t", Seq(("a", 1)).toDF("id", "x"))
    store.append("t", Seq(("b", 2, "new")).toDF("id", "x", "extra"))
    val rows = store.read("t").get.select("id", "extra")
      .as[(String, Option[String])].collect().sortBy(_._1).toSeq
    assert(rows == Seq(("a", None), ("b", Some("new"))))
  }

  test("table partitioning is preserved across append, compact and overwrite") {
    val root = java.nio.file.Files.createTempDirectory("store-layout").toString
    val store = new TableStore(spark, root, autoCompactDeltas = 2, gcGraceMs = 0L,
      partitioning = Map("t" -> Seq("k")))
    def allPartitioned(): Boolean = {
      val files = StoreFiles.snapshot(store, "t")
      files.nonEmpty && files.forall(_.contains("/k="))
    }
    (1 to 6).foreach(i => store.append("t", Seq((i % 2, i)).toDF("k", "x")))
    // every live generation — including compaction's full gens,
    // whichever append triggered them — carries the k=… layout
    assert(store.history("t").exists(g => TableStore.foldStart(g._2).isDefined))
    assert(allPartitioned())
    store.compact("t")
    store.overwrite("t", Seq((0, 99)).toDF("k", "x"))
    assert(allPartitioned())
    assert(store.read("t").get.select("k", "x")
      .as[(Int, Int)].collect().toSeq == Seq((0, 99)))
  }
}

class DatasetServiceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def freshService() = {
    val root = java.nio.file.Files.createTempDirectory("cat").toString
    (new DatasetService(spark, new TableStore(spark, root), new Random(7)),
     new TableStore(spark, root))
  }
  private val t0 = Instant.parse("2021-02-01T13:38:40.776Z")

  test("create/get/list/update/delete round trip") {
    val (svc, _) = freshService()
    val created = svc.create("Auckland_2020", t0).toOption.get
    assert(svc.get(created.id).toOption.get.title == "Auckland_2020")
    assert(svc.getByTitle("Auckland_2020").isRight)
    assert(svc.list().map(_.title) == Seq("Auckland_2020"))
    val updated = svc.update(created.id, "Auckland_2021", t0.plusSeconds(60)).toOption.get
    assert(updated.title == "Auckland_2021")
    assert(updated.created_at != updated.updated_at)
    assert(svc.delete(created.id).isRight)
    assert(svc.list().isEmpty)
  }

  test("generic attribute update copies any model attribute except id") {
    val (svc, _) = freshService()
    val d = svc.create("T0", t0).toOption.get
    // title + explicit timestamps in one PATCH body (update.py:52-55)
    val r = svc.updateAttributes(d.id, Map(
      "title" -> "T0_renamed",
      "created_at" -> "2020-01-01T00:00:00Z",
      "updated_at" -> "2020-06-01T00:00:00Z",
      "id" -> "evil", "unknown_attr" -> "ignored"), t0.plusSeconds(60)).toOption.get
    assert(r.id == d.id) // id never updatable
    assert(r.title == "T0_renamed")
    assert(r.created_at.toInstant == Instant.parse("2020-01-01T00:00:00Z"))
    assert(r.updated_at.toInstant == Instant.parse("2020-06-01T00:00:00Z"))
    assert(svc.get(d.id).toOption.get == r) // persisted, not just returned

    // without explicit updated_at the PATCH bumps it to `now`
    val r2 = svc.updateAttributes(d.id, Map.empty, t0.plusSeconds(120)).toOption.get
    assert(r2.updated_at.toInstant == t0.plusSeconds(120))
    assert(r2.created_at == r.created_at)

    // malformed timestamp is a validation error, nothing persisted
    assert(svc.updateAttributes(d.id, Map("created_at" -> "yesterday"), t0).isLeft)
    assert(svc.get(d.id).toOption.get == r2)
  }

  test("a PATCH reads the catalog once") {
    val root = java.nio.file.Files.createTempDirectory("cat").toString
    var reads = 0
    val store = new TableStore(spark, root) {
      override def read(table: String) = {
        if (table == "datasets") reads += 1
        super.read(table)
      }
    }
    val svc = new DatasetService(spark, store, new Random(7))
    val d = svc.create("T3", t0).toOption.get
    reads = 0
    val r = svc.updateAttributes(d.id, Map("title" -> "T3_renamed"), t0.plusSeconds(60))
    assert(r.map(_.title) == Right("T3_renamed"))
    assert(reads == 1) // title check and row lookup share one read
  }

  test("duplicate title and bad charset rejected") {
    val (svc, _) = freshService()
    assert(svc.create("T1", t0).isRight)
    assert(svc.create("T1", t0).isLeft)      // create.py:32-36
    assert(svc.create("bad title", t0).isLeft) // create.py:11-21
  }

  test("delete guarded by existing versions") {
    val (svc, store) = freshService()
    import spark.implicits._
    val d = svc.create("T2", t0).toOption.get
    store.append("processing_assets",
      Seq(ProcessingAssetRow(d.id, "v1", "DATA", 0L, "s3://b/f", Some("1220ab")))
        .toDS().toDF())
    assert(svc.delete(d.id).isLeft) // delete.py:37-45
  }
}

/** Flaky reader: the first `failN` opens of every url throw a transient
  * IOException; later opens serve the bytes. Open counts are tracked in
  * a static map (tasks run in-JVM under local mode) so specs can assert
  * how many attempts a row consumed. */
object FlakyReader {
  val opens = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
class FlakyReader(docs: Map[String, Array[Byte]], failN: Int)
    extends UrlReader {
  override def open(url: String): java.io.InputStream = {
    val n = FlakyReader.opens.merge(url, 1, (a, b) => a + b)
    if (n <= failN)
      throw new java.net.SocketTimeoutException(s"read timed out: hiccup #$n for $url")
    docs.get(url) match {
      case Some(b) => new java.io.ByteArrayInputStream(b)
      case None => throw new java.io.FileNotFoundException(url)
    }
  }
  override def exists(url: String): Boolean = docs.contains(url)
}

class ImporterSpec extends AnyFunSuite {
  private def assetsOf(urls: String*) = {
    val spark = TestSpark.spark
    import spark.implicits._
    urls.zipWithIndex.map { case (u, i) =>
      ProcessingAssetRow("d1", "v1", "DATA", i.toLong, u, Some("x"))
    }.toDS()
  }

  test("transient IO failure retries in-task and succeeds (O-taxonomy)") {
    FlakyReader.opens.clear()
    val root = java.nio.file.Files.createTempDirectory("imp-retry").toString
    val imp = new Importer(root)
    val reader = new FlakyReader(Map("mem://a" -> "payload".getBytes), failN = 1)
    val rows = imp.importAssets(assetsOf("mem://a"), reader, "t-d1")
      .collect()
    assert(rows.length == 1)
    assert(rows.head.result_code == "Succeeded", rows.head.result_string)
    assert(FlakyReader.opens.get("mem://a") == 2) // failed once, retried
    // the copied bytes really landed despite the first-attempt failure
    val copied = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/t-d1/v1/a"))
    assert(new String(copied) == "payload")
  }

  test("exhausted transient retries report TemporaryFailure, not Permanent") {
    FlakyReader.opens.clear()
    val imp = new Importer(
      java.nio.file.Files.createTempDirectory("imp-tmp").toString)
    val reader = new FlakyReader(Map("mem://b" -> "x".getBytes), failN = 99)
    val rows = imp.importAssets(assetsOf("mem://b"), reader, "t-d1",
      maxAttempts = 3).collect()
    assert(rows.head.result_code == "TemporaryFailure")
    assert(FlakyReader.opens.get("mem://b") == 3) // all attempts consumed
  }

  test("deterministic failure is Permanent on the FIRST attempt") {
    FlakyReader.opens.clear()
    val imp = new Importer(
      java.nio.file.Files.createTempDirectory("imp-perm").toString)
    val reader = new FlakyReader(Map.empty, failN = 0) // not-found always
    val rows = imp.importAssets(assetsOf("mem://missing"), reader, "t-d1")
      .collect()
    assert(rows.head.result_code == "PermanentFailure")
    assert(FlakyReader.opens.get("mem://missing") == 1) // never retried
  }

  test("deterministic stream errors (EOF, access denied) are Permanent") {
    // a truncated source or a permission error never heals by retrying
    // — coding them transient burns the attempt budget and reports the
    // row as re-drivable when it is not (ADVICE r7)
    class Throwing(e: () => Exception) extends UrlReader {
      override def open(url: String) = throw e()
      override def exists(url: String) = true
    }
    for (mk <- Seq(
        () => new java.io.EOFException("unexpected end of stream"),
        () => new java.nio.file.AccessDeniedException("mem://c"): Exception,
        () => new java.io.IOException("checksum mismatch"))) {
      val root = java.nio.file.Files.createTempDirectory("imp-det").toString
      val imp = new Importer(root)
      val rows = imp.importAssets(assetsOf("mem://c"), new Throwing(mk),
        "t-d1").collect()
      assert(rows.head.result_code == "PermanentFailure", rows.head.result_string)
      // source-open failures must leave NO destination artifact: the
      // old create-dest-first order left an empty file (and a leaked
      // stream) behind for every failed attempt
      assert(!new java.io.File(s"$root/t-d1/v1/c").exists())
    }
  }

  test("generic IOExceptions with timeout-ish messages stay retryable") {
    FlakyReader.opens.clear()
    class MsgFlaky(docs: Map[String, Array[Byte]]) extends UrlReader {
      override def open(url: String): java.io.InputStream = {
        val n = FlakyReader.opens.merge(url, 1, (a, b) => a + b)
        if (n <= 1)
          throw new java.io.IOException("connection reset by peer")
        new java.io.ByteArrayInputStream(docs(url))
      }
      override def exists(url: String) = docs.contains(url)
    }
    val root = java.nio.file.Files.createTempDirectory("imp-msg").toString
    val imp = new Importer(root)
    val rows = imp.importAssets(assetsOf("mem://d"),
      new MsgFlaky(Map("mem://d" -> "ok".getBytes)), "t-d1").collect()
    assert(rows.head.result_code == "Succeeded", rows.head.result_string)
    assert(FlakyReader.opens.get("mem://d") == 2)
  }

  test("one pass copies a mixed manifest, rewriting only metadata hrefs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("imp-mixed").toString
    val doc = """{"links":[{"href":"s3://b/dir/cat.json","rel":"root"}]}"""
    val reader = new InMemoryUrlReader(Map(
      "s3://b/dir/item.json" -> doc.getBytes, "s3://b/dir/raw.json" -> doc.getBytes))
    val manifest = Seq(
      ProcessingAssetRow("d1", "v1", "METADATA", 0L, "s3://b/dir/item.json", None),
      ProcessingAssetRow("d1", "v1", "DATA", 1L, "s3://b/dir/raw.json", Some("x"))).toDS()
    val rows = new Importer(root).importAssets(manifest, reader, "t-d1")
      .collect()
    assert(rows.map(r => (r.asset_type, r.result_code)).toSet ==
      Set(("METADATA", "Succeeded"), ("DATA", "Succeeded")))
    def copied(name: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/t-d1/v1/$name")))
    assert(copied("item.json").contains(""""href":"cat.json""""))
    assert(copied("raw.json") == doc)
  }

  test("metadata href rewrite to basenames") {
    val imp = new Importer("/tmp/unused")
    val in = """{"assets":{"a":{"href":"s3://b/dir/f.tif","file:checksum":"x"}},
                 "links":[{"href":"s3://b/dir/cat.json","rel":"root"}]}"""
    val out = imp.rewriteMetadata(in)
    assert(out.contains(""""href":"f.tif""""))
    assert(out.contains(""""href":"cat.json""""))
    assert(!out.contains("s3://b/dir"))
  }
}
