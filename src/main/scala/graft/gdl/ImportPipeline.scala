package graft.gdl

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.util.Random

/** The validate-and-import pipeline ≙ the reference's Step Function
  * (/root/reference/infrastructure/processing_stack.py:285-325, traced in
  * SURVEY §3.2): check_stac_metadata → content_iterator/checksum array
  * jobs → validation_summary → Choice → import_dataset.
  *
  * Stages become sequential driver-coordinated Spark jobs; the 10,000-item
  * iteration ladder collapses into partitioning of the checksum stage; the
  * Choice states are `if`s; Step-Function JSON state becomes the
  * `import_executions` row. Stage [1] errors are swallowed after being
  * recorded (utils.py:78-82) so the pipeline proceeds to a failing
  * summary instead of crashing — behavioral parity the status API
  * depends on.
  */
class ImportPipeline(spark: SparkSession, store: TableStore,
                     reader: UrlReader, storageRoot: String,
                     rng: Random = new Random()) {
  import spark.implicits._

  val datasets = new DatasetService(spark, store, rng)

  /** ≙ POST /dataset-versions (backend/dataset_versions/create.py:22-86)
    * + synchronous execution of the whole state machine. Returns the
    * execution id (≙ execution ARN). */
  def run(datasetId: String, metadataUrl: String, now: Instant): Either[String, String] = {
    // payload log ≙ the reference's EVENT_KEY debug line
    // (tests/test_import_dataset_logging.py should_log_payload)
    Log.debugEvent("import_dataset",
      "dataset_id" -> datasetId, "metadata_url" -> metadataUrl)
    val result = runImpl(datasetId, metadataUrl, now)
    result.left.foreach(e => Log.warningError("import_dataset", e))
    result
  }

  private def runImpl(datasetId: String, metadataUrl: String,
                      now: Instant): Either[String, String] =
    datasets.get(datasetId).map { dataset =>
      val versionId = Ulid.generate(now, rng)
      val executionId = s"execution-$versionId"
      val exec = ImportExecutionRow(executionId, datasetId, versionId,
        metadataUrl, Timestamp.from(now), "Running", None, "Pending", "Pending")
      store.append("import_executions", Seq(exec).toDS().toDF())

      // validation rows not yet appended; a crash writes them beside its row
      val unwritten = mutable.ArrayBuffer.empty[ValidationRow]
      val (validationSuccess, metaStatus, assetStatus) =
        try runStages(dataset, versionId, metadataUrl, unwritten)
        catch { case e: Exception =>
          // hard crash ⇒ summary never ran; record it like the reference
          // logs-and-continues (utils.py:78-82) so status shows Failed
          store.append("validation_results", (unwritten.toSeq :+ ValidationRow(
            datasetId, versionId, "pipeline", metadataUrl, Result.Failed,
            Map("message" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")))
            .toDS().toDF())
          (Some(false), "Pending", "Pending")
        }

      // validation-summary outcome line ≙ SUCCESS_KEY/MESSAGE_KEY
      // (tests/test_validation_summary_logging.py)
      Log.infoOutcome("validation_summary",
        validationSuccess.getOrElse(false),
        if (validationSuccess.contains(true)) ""
        else "validation failed — see validation_results")
      // completion is an O(1) status-delta append — readers resolve
      // last-wins on state_seq (the full-collect-and-rewrite alternative
      // costs O(all executions ever) per run and collects to the driver)
      store.append("import_executions", Seq(exec.copy(
        state_seq = 1L,
        sfn_status = "Succeeded",
        validation_success = validationSuccess,
        metadata_upload_status = metaStatus,
        asset_upload_status = assetStatus)).toDS().toDF())
      executionId
    }

  /** One append per table; the summary reads the rows this run produced
    * (the version id is a fresh ULID, so no other rows can match it). */
  private def runStages(dataset: DatasetRow, versionId: String, metadataUrl: String,
                        unwritten: mutable.ArrayBuffer[ValidationRow])
      : (Option[Boolean], String, String) = {
    // [1] STAC crawl (O-14/O-16/O-18/O-19/O-28)
    val crawl = new StacCrawler(reader).run(dataset.id, versionId, metadataUrl)
    unwritten ++= crawl.validations
    val rows = if (crawl.aborted) Nil else crawl.metadata ++ crawl.assets
    if (rows.nonEmpty) store.append("processing_assets", rows.toDS().toDF())

    // [2]/[3] checksum fan-out over DATA rows (O-21/O-17/O-10), read BACK
    // from the processing_assets table — like the reference's
    // content_iterator querying DynamoDB (O-5/O-6) — so the stage scales
    // with the manifest table, not with driver memory. Partition count
    // mirrors the reference's 10,000-item iteration window (O-27).
    val checksumRows = Option.when(!crawl.aborted && crawl.assets.nonEmpty) {
      val manifest = store.read("processing_assets").get
        .filter($"dataset_id" === dataset.id && $"version_id" === versionId &&
                $"asset_type" === "DATA") // column predicates → parquet pushdown
        .as[ProcessingAssetRow]
      // O-24 consistency rule (USAGE.md:76-79): same URL must carry one
      // multihash across all references — engine extension
      unwritten ++= manifest.groupBy($"url").agg(countDistinct($"multihash").as("n"))
        .filter($"n" > 1).select($"url").as[String].collect()
        .map(u => ValidationRow(dataset.id, versionId, Check.InconsistentMultihash, u,
          Result.Failed, Map("message" -> s"URL referenced with differing multihashes: $u")))
      val nData = crawl.assets.size // known from the crawl (≙ O-5 count)
      val assets = manifest.repartition(math.max(1, math.ceil(nData / 10000.0).toInt))
      // persisted: the append runs the checksums, the summary counts the cache
      ChecksumValidator.validate(spark, assets, reader).persist(StorageLevel.MEMORY_AND_DISK)
    }

    // [5] validation summary (O-25/O-8) after one append of every row
    val success =
      try {
        val driverFailed = unwritten.exists(_.result == Result.Failed)
        store.append("validation_results",
          checksumRows.foldLeft(unwritten.toSeq.toDS())(_ union _).toDF())
        unwritten.clear()
        !driverFailed && !checksumRows.exists(_.filter(_.result == Result.Failed).count() > 0)
      } finally checksumRows.foreach(_.unpersist())

    // [6] Choice: import on success (O-6/O-12/O-34)
    if (success && !crawl.aborted) {
      // copy manifest from the table (O-6), not driver memory
      val manifest = store.read("processing_assets").get
        .filter($"dataset_id" === dataset.id && $"version_id" === versionId)
        .as[ProcessingAssetRow]
      // persisted: the copy runs once, in the report append; statuses read the cache
      val results = new Importer(storageRoot)
        .importAssets(manifest, reader, s"${dataset.title}-${dataset.id}")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // per-file report ≙ the S3 Batch report CSVs (import_dataset/task.py:133-139)
        store.append("import_reports", results.toDF())
        val failed = results.filter(_.result_code != "Succeeded")
          .map(_.asset_type).distinct().collect()
        def status(t: String) = if (failed.contains(t)) "Failed" else "Complete"
        (Some(true), status("METADATA"), status("DATA"))
      } finally { results.unpersist(); () }
    } else (Some(success), "Pending", "Pending")
  }
}
