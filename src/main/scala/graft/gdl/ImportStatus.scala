package graft.gdl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, desc}

/** Import-status report ≙ GET /import-status
  * (/root/reference/backend/import_status/get.py:39-107).
  *
  * The Outcome matrix ports verbatim (get.py:25-36, 97-107):
  *  - validation: success true/false/None → Passed/Failed/Pending;
  *    Pending + recorded errors ⇒ Failed;
  *    Pending + terminal step-function status ⇒ Skipped.
  *  - uploads: both still Pending while validation Failed/Skipped ⇒
  *    Skipped ("failed validation implies uploads will never happen",
  *    get.py:79-85).
  */
final case class ValidationError(
    check: String, result: String, url: String, details: Map[String, String])
final case class StatusSection(status: String, errors: Seq[ValidationError])
final case class Report(
    stepFunction: String,
    validation: StatusSection,
    metadataUpload: StatusSection,
    assetUpload: StatusSection)

class ImportStatus(spark: SparkSession, store: TableStore) {
  import spark.implicits._

  def get(executionId: String): Either[String, Report] = {
    // payload + not-found logs ≙ tests/test_import_status_logging.py
    Log.debugEvent("import_status", "execution_id" -> executionId)
    // scan(): the ULID equality prunes via the Bloom sidecar before the
    // parquet scan opens files (execution ids interleave across the
    // append-only status deltas, so zone maps alone cannot skip); the
    // newest status-delta row wins (see model.scala)
    val exec = store.scan("import_executions",
        col("execution_id") === executionId)
      .map(_.orderBy(desc("state_seq"), desc("started_at"))
        .limit(1)
        .as[ImportExecutionRow].collect())
      .getOrElse(Array.empty)
      .headOption
      .toRight(s"execution '$executionId' does not exist")
    exec.left.foreach(e => Log.warningError("import_status", e))

    exec.map { e =>
      // O-7 + O-26: failed rows of this version, key-parsed error list
      val errors = store.read("validation_results").map { df =>
        df.filter(df("dataset_id") === e.dataset_id &&
                  df("version_id") === e.version_id &&
                  df("result") === Result.Failed)
          .as[ValidationRow].collect().toSeq
          .map(v => ValidationError(v.check, v.result, v.url, v.details))
      }.getOrElse(Seq.empty)

      val validationOutcome = (e.validation_success match {
        case Some(true) => "Passed"
        case Some(false) => "Failed"
        case None => "Pending"
      }) match {
        case "Pending" if errors.nonEmpty => "Failed"
        case "Pending" if !Seq("Running", "Succeeded").contains(e.sfn_status) => "Skipped"
        case other => other
      }

      var metaStatus = e.metadata_upload_status
      var assetStatus = e.asset_upload_status
      if (metaStatus == "Pending" && assetStatus == "Pending" &&
          Seq("Failed", "Skipped").contains(validationOutcome)) {
        metaStatus = "Skipped"
        assetStatus = "Skipped"
      }

      // per-section upload failures from the copy report ≙ the per-job
      // S3 Batch FailureReasons the reference surfaces
      // (backend/import_status/get.py:140-155); message = the copy
      // fleet's result_string; one read, split by section on the driver
      val failedCopies = store.read("import_reports").map { df =>
        df.filter(col("dataset_id") === e.dataset_id &&
                  col("version_id") === e.version_id &&
                  col("result_code") =!= "Succeeded")
          .as[CopyResult].collect().toSeq.sortBy(_.url).groupBy(_.asset_type)
      }.getOrElse(Map.empty[String, Seq[CopyResult]])
      def upload(status: String, assetType: String) =
        StatusSection(status, failedCopies.getOrElse(assetType, Nil).map(r =>
          ValidationError("copy", r.result_code, r.url,
            Map("message" -> r.result_string, "new_key" -> r.new_key))))

      Report(
        stepFunction = e.sfn_status,
        validation = StatusSection(validationOutcome, errors),
        metadataUpload = upload(metaStatus, "METADATA"),
        assetUpload = upload(assetStatus, "DATA"))
    }
  }
}
