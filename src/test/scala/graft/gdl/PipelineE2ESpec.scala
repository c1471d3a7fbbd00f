package graft.gdl

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import graft.TestSpark
import graft.gdl.TestFixtures._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** End-to-end pipeline specs ≙ the reference's deployed flagship test
  * (/root/reference/tests/test_processing_stack.py:81-262): a 3-file STAC
  * graph (catalog → collection → item) + 2 assets is imported and the
  * terminal import-status JSON is asserted — here against local temp
  * dirs instead of AWS, with the same fixture shape (FIXTURES.md §2).
  */
class PipelineE2ESpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val asset1 = Array.tabulate[Byte](20)(i => (i * 7).toByte)
  private val asset2 = Array.tabulate[Byte](20)(i => (i * 13 + 1).toByte)

  private def stacGraph(asset1Mh: String = multihash256(asset1)): Map[String, Array[Byte]] = Map(
    "s3://staging/data/catalog.json" ->
      s"""{"type":"Catalog","stac_version":"1.0.0-rc.3","id":"cat1",
           "description":"root catalog",
           "links":[{"href":"collection.json","rel":"child"},
                    {"href":"catalog.json","rel":"root"},
                    {"href":"catalog.json","rel":"self"}]}"""
        .getBytes(UTF_8),
    "s3://staging/data/collection.json" ->
      s"""{"type":"Collection","stac_version":"1.0.0-rc.3","id":"col1",
           "description":"collection","license":"MIT",
           "extent":{"spatial":{"bbox":[[-180,-90,180,90]]},
                     "temporal":{"interval":[["2000-01-01T00:00:00Z",null]]}},
           "assets":{"a2":{"href":"asset2.bin",
                           "file:checksum":"${multihash256(asset2)}"}},
           "links":[{"href":"item.json","rel":"child"},
                    {"href":"catalog.json","rel":"root"},
                    {"href":"collection.json","rel":"self"}]}"""
        .getBytes(UTF_8),
    "s3://staging/data/item.json" ->
      s"""{"type":"Feature","stac_version":"1.0.0-rc.3","id":"item1",
           "geometry":null,"properties":{"datetime":"2000-01-01T00:00:00Z"},
           "assets":{"a1":{"href":"asset1.bin","file:checksum":"$asset1Mh"}},
           "links":[{"href":"catalog.json","rel":"root"},
                    {"href":"item.json","rel":"self"}]}"""
        .getBytes(UTF_8),
    "s3://staging/data/asset1.bin" -> asset1,
    "s3://staging/data/asset2.bin" -> asset2)

  private def freshPipeline(docs: Map[String, Array[Byte]]) = {
    val tables = java.nio.file.Files.createTempDirectory("gdl-tables").toString
    val storage = java.nio.file.Files.createTempDirectory("gdl-storage").toString
    val pipeline = new ImportPipeline(spark, new TableStore(spark, tables),
      new InMemoryUrlReader(docs), storage, new Random(42))
    (pipeline, new ImportStatus(spark, new TableStore(spark, tables)), storage)
  }
  private val t0 = Instant.parse("2024-05-01T10:00:00.000Z")

  test("happy path: crawl, checksum, import, Passed/Complete status") {
    val (pipeline, status, storage) = freshPipeline(stacGraph())
    val ds = pipeline.datasets.create("NZ_Imagery", t0).toOption.get
    val execId = pipeline.run(ds.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(60)).toOption.get

    val report = status.get(execId).toOption.get
    assert(report.stepFunction == "Succeeded")
    assert(report.validation.status == "Passed")
    assert(report.validation.errors.isEmpty)
    assert(report.metadataUpload.status == "Complete")
    assert(report.assetUpload.status == "Complete")

    // storage layout {title}-{id}/{version}/{basename} (import_dataset/task.py:104)
    val versionDirs = new java.io.File(s"$storage/NZ_Imagery-${ds.id}").listFiles()
    assert(versionDirs != null && versionDirs.length == 1)
    val files = versionDirs.head.listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet // drop Hadoop-local .crc sidecars
    assert(files == Set("catalog.json", "collection.json", "item.json",
                        "asset1.bin", "asset2.bin"))
    // imported metadata has hrefs rewritten to basenames (O-34)
    val imported = new String(java.nio.file.Files.readAllBytes(
      versionDirs.head.toPath.resolve("collection.json")), UTF_8)
    assert(imported.contains(""""href":"item.json""""))
    assert(!imported.contains("s3://"))
  }

  test("two versions of one dataset coexist under partitioned tables") {
    val (pipeline, status, storage) = freshPipeline(stacGraph())
    val ds = pipeline.datasets.create("Two_Versions", t0).toOption.get
    val exec1 = pipeline.run(ds.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(60)).toOption.get
    val exec2 = pipeline.run(ds.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(120)).toOption.get
    assert(exec1 != exec2)
    Seq(exec1, exec2).foreach { e =>
      val r = status.get(e).toOption.get
      assert(r.validation.status == "Passed" && r.assetUpload.status == "Complete")
    }
    val versionDirs = new java.io.File(s"$storage/Two_Versions-${ds.id}").listFiles()
    assert(versionDirs.length == 2) // immutable, versioned layout
    // delete is still guarded (stored versions exist)
    assert(pipeline.datasets.delete(ds.id).isLeft)
  }

  test("checksum mismatch: Failed validation, uploads Skipped") {
    val badMh = "1220" + "0" * 64
    val (pipeline, status, _) = freshPipeline(stacGraph(asset1Mh = badMh))
    val ds = pipeline.datasets.create("Bad_Checksum", t0).toOption.get
    val execId = pipeline.run(ds.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(60)).toOption.get

    val report = status.get(execId).toOption.get
    assert(report.validation.status == "Failed")
    val err = report.validation.errors.find(_.check == Check.Checksum).get
    assert(err.url == "s3://staging/data/asset1.bin")
    assert(err.details("message").startsWith(
      s"Checksum mismatch: expected ${"0" * 64}, got "))
    assert(report.metadataUpload.status == "Skipped")
    assert(report.assetUpload.status == "Skipped")
  }

  test("non-s3 url: recorded failure, uploads Skipped") {
    val (pipeline, status, _) = freshPipeline(stacGraph())
    val ds = pipeline.datasets.create("Non_S3", t0).toOption.get
    val execId = pipeline.run(ds.id, "http://example.com/catalog.json",
      t0.plusSeconds(60)).toOption.get
    val report = status.get(execId).toOption.get
    assert(report.validation.status == "Failed")
    assert(report.validation.errors.head.check == Check.NonS3Url)
    assert(report.assetUpload.status == "Skipped")
  }

  test("schema failure aborts traversal without asset rows") {
    val docs = stacGraph() + ("s3://staging/data/collection.json" ->
      """{"type":"Collection","stac_version":"1.0.0-rc.3","id":"col1",
          "description":"no license","links":[]}""".getBytes(UTF_8))
    val (pipeline, status, _) = freshPipeline(docs)
    val ds = pipeline.datasets.create("Bad_Schema", t0).toOption.get
    val execId = pipeline.run(ds.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(60)).toOption.get
    val report = status.get(execId).toOption.get
    assert(report.validation.status == "Failed")
    assert(report.validation.errors.exists(e =>
      e.check == Check.JsonSchema &&
        e.details("message") == "'license' is a required property"))
  }

  test("copy failure surfaces per-file errors in the asset-upload section") {
    // validation reads asset1.bin once (checksum passes); the import
    // copy re-opens it and the injected fault fires ≙ an S3 Batch task
    // failing after validation succeeded — the exact scenario the
    // reference reports via per-job FailureReasons (import_status/
    // get.py:140-155)
    val tables = java.nio.file.Files.createTempDirectory("gdl-tables").toString
    val storage = java.nio.file.Files.createTempDirectory("gdl-storage").toString
    PipelineE2ESpec.opensOfAsset1.set(0)
    val flaky = new FlakyAsset1Reader(stacGraph())
    val pipeline = new ImportPipeline(spark, new TableStore(spark, tables),
      flaky, storage, new Random(42))
    val status = new ImportStatus(spark, new TableStore(spark, tables))

    val ds = pipeline.datasets.create("Copy_Fail", t0).toOption.get
    val execId = pipeline.run(ds.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(60)).toOption.get
    val report = status.get(execId).toOption.get
    assert(report.validation.status == "Passed")
    assert(report.metadataUpload.status == "Complete")
    assert(report.metadataUpload.errors.isEmpty)
    assert(report.assetUpload.status == "Failed")
    val err = report.assetUpload.errors match {
      case Seq(only) => only
      case other => fail(s"expected exactly one upload error, got $other")
    }
    assert(err.url == "s3://staging/data/asset1.bin")
    // an IO fault that persists through the in-task retries reports
    // TemporaryFailure — the reference's re-drivable coding for IO
    // errors (import_asset_file/task.py:30-37); PermanentFailure is
    // reserved for deterministic errors (see ImporterSpec)
    assert(err.result == "TemporaryFailure")
    assert(err.details("message") == "Exception: injected copy failure")
    assert(err.details("new_key").endsWith("/asset1.bin"))
  }

  test("status updates are O(1) delta appends, not history rewrites") {
    val tables = java.nio.file.Files.createTempDirectory("gdl-tables").toString
    val storage = java.nio.file.Files.createTempDirectory("gdl-storage").toString
    val store = new TableStore(spark, tables)
    def executionGens(): Seq[(Long, String)] = store.history("import_executions")
    val pipeline = new ImportPipeline(spark, store,
      new InMemoryUrlReader(stacGraph()), storage, new Random(42))
    val ds = pipeline.datasets.create("Delta_Cost", t0).toOption.get

    pipeline.run(ds.id, "s3://staging/data/catalog.json", t0.plusSeconds(60))
    val afterFirst = executionGens().size
    pipeline.run(ds.id, "s3://staging/data/catalog.json", t0.plusSeconds(120))
    val afterSecond = executionGens().size
    // per-run commit cost is constant (start + completion deltas) and
    // independent of how many executions already exist
    assert(afterFirst == 2 && afterSecond == 4)
    assert(executionGens().forall(_._2 == "delta"))
    // last-wins resolution sees exactly one (terminal) row per execution
    val latest = store.readLatestBy("import_executions",
      Seq("execution_id"), "state_seq").get
    assert(latest.count() == 2)
    import org.apache.spark.sql.functions.col
    assert(latest.filter(col("sfn_status") === "Succeeded").count() == 2)
  }

  test("a clean import appends once to each table it writes") {
    val tables = java.nio.file.Files.createTempDirectory("gdl-tables").toString
    val storage = java.nio.file.Files.createTempDirectory("gdl-storage").toString
    val store = new TableStore(spark, tables)
    val pipeline = new ImportPipeline(spark, store,
      new InMemoryUrlReader(stacGraph()), storage, new Random(42))
    val ds = pipeline.datasets.create("One_Append", t0).toOption.get
    pipeline.run(ds.id, "s3://staging/data/catalog.json", t0.plusSeconds(60))
    val generations = Seq("import_executions", "processing_assets",
      "validation_results", "import_reports")
      .map(t => t -> store.history(t).size).toMap
    assert(generations == Map("import_executions" -> 2, "processing_assets" -> 1,
      "validation_results" -> 1, "import_reports" -> 1))
  }

  test("a crash in the checksum stage records the crawl's rows and the crash in one append") {
    val docs = stacGraph() + ("s3://staging/data/item.json" ->
      s"""{"type":"Feature","stac_version":"1.0.0-rc.3","id":"item1",
           "id":"item1-dup",
           "geometry":null,"properties":{"datetime":"2000-01-01T00:00:00Z"},
           "assets":{"a1":{"href":"asset1.bin",
                           "file:checksum":"${multihash256(asset1)}"}},
           "links":[]}""".getBytes(UTF_8))
    val tables = java.nio.file.Files.createTempDirectory("gdl-tables").toString
    val storage = java.nio.file.Files.createTempDirectory("gdl-storage").toString
    val store = new TableStore(spark, tables)
    val pipeline = new ImportPipeline(spark, store,
      new BrokenAssetStreamReader(docs), storage, new Random(42))
    val ds = pipeline.datasets.create("Checksum_Crash", t0).toOption.get
    val execId = pipeline.run(ds.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(60)).toOption.get
    val report = new ImportStatus(spark, store).get(execId).toOption.get
    assert(report.validation.status == "Failed")
    assert(report.validation.errors.map(_.check).sorted ==
      Seq(Check.DuplicateObjectKey, "pipeline"))
    assert(report.validation.errors.find(_.check == "pipeline").get
      .details("message").contains("injected read failure"))
    assert(report.metadataUpload.status == "Skipped")
    assert(report.assetUpload.status == "Skipped")
    assert(store.history("validation_results").size == 1)
  }

  test("deep Draft-7 violations fail validation with format/oneOf messages") {
    // ≙ the reference's FormatChecker + item.json oneOf depth
    // (stac_validators.py:26, test_check_stac_metadata.py:395-400):
    // a naive datetime and a non-null geometry without bbox are schema
    // failures, not crawler crashes — each aborts with a JsonSchema row
    val badDatetime = stacGraph() + ("s3://staging/data/item.json" ->
      s"""{"type":"Feature","stac_version":"1.0.0-rc.3","id":"item1",
           "geometry":null,"properties":{"datetime":"2000-01-01 00:00:00"},
           "assets":{"a1":{"href":"asset1.bin",
                           "file:checksum":"${multihash256(asset1)}"}},
           "links":[]}""".getBytes(UTF_8))
    val (p1, s1, _) = freshPipeline(badDatetime)
    val ds1 = p1.datasets.create("Bad_Datetime", t0).toOption.get
    val e1 = p1.run(ds1.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(60)).toOption.get
    val r1 = s1.get(e1).toOption.get
    assert(r1.validation.status == "Failed")
    assert(r1.validation.errors.exists(e => e.check == Check.JsonSchema &&
      e.details("message") == "'2000-01-01 00:00:00' is not a 'date-time'"))

    val geomNoBbox = stacGraph() + ("s3://staging/data/item.json" ->
      s"""{"type":"Feature","stac_version":"1.0.0-rc.3","id":"item1",
           "geometry":{"type":"Point","coordinates":[170.0,-45.0]},
           "properties":{"datetime":"2000-01-01T00:00:00Z"},
           "assets":{"a1":{"href":"asset1.bin",
                           "file:checksum":"${multihash256(asset1)}"}},
           "links":[]}""".getBytes(UTF_8))
    val (p2, s2, _) = freshPipeline(geomNoBbox)
    val ds2 = p2.datasets.create("Geom_No_Bbox", t0).toOption.get
    val e2 = p2.run(ds2.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(60)).toOption.get
    val r2 = s2.get(e2).toOption.get
    assert(r2.validation.status == "Failed")
    assert(r2.validation.errors.exists(e => e.check == Check.JsonSchema &&
      e.details("message") == "'bbox' is a required property"))
  }

  test("duplicate JSON key recorded but traversal continues (first wins)") {
    val docs = stacGraph() + ("s3://staging/data/item.json" ->
      s"""{"type":"Feature","stac_version":"1.0.0-rc.3","id":"item1",
           "id":"item1-dup",
           "geometry":null,"properties":{"datetime":"2000-01-01T00:00:00Z"},
           "assets":{"a1":{"href":"asset1.bin",
                           "file:checksum":"${multihash256(asset1)}"}},
           "links":[]}""".getBytes(UTF_8))
    val (pipeline, status, _) = freshPipeline(docs)
    val ds = pipeline.datasets.create("Dup_Key", t0).toOption.get
    val execId = pipeline.run(ds.id, "s3://staging/data/catalog.json",
      t0.plusSeconds(60)).toOption.get
    val report = status.get(execId).toOption.get
    // dup recorded as a failure ⇒ validation Failed, but all docs crawled
    assert(report.validation.status == "Failed")
    val dup = report.validation.errors.find(_.check == Check.DuplicateObjectKey).get
    assert(dup.details("message") ==
      "Found duplicate object name “id” in “s3://staging/data/item.json”")
  }
}

object PipelineE2ESpec {
  /** JVM-wide open counter: local-mode tasks deserialize their own copy
    * of the reader, but all share this class-level counter. */
  val opensOfAsset1 = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Fault-injecting reader: the first open of asset1.bin (the checksum
  * read) succeeds, any re-open (the import copy) fails — top-level class
  * so serializing it does not drag the spec instance along. */
private class FlakyAsset1Reader(docs: Map[String, Array[Byte]])
    extends InMemoryUrlReader(docs) {
  override def open(url: String): java.io.InputStream = {
    if (url.endsWith("asset1.bin") &&
        PipelineE2ESpec.opensOfAsset1.incrementAndGet() > 1)
      throw new java.net.SocketTimeoutException("injected copy failure")
    super.open(url)
  }
}

/** Asset streams serve a few bytes and then throw an unchecked
  * exception, so the checksum stage's task fails mid-read. */
private class BrokenAssetStreamReader(docs: Map[String, Array[Byte]])
    extends InMemoryUrlReader(docs) {
  override def open(url: String): java.io.InputStream =
    if (!url.endsWith(".bin")) super.open(url)
    else new java.io.FilterInputStream(super.open(url)) {
      private var reads = 0
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        reads += 1
        if (reads > 1) throw new IllegalStateException("injected read failure")
        super.read(b, off, math.min(len, 4))
      }
    }
}
