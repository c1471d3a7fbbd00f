package graft.gdl

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset

/** Versioned import into the storage layout
  * `{title}-{dataset_id}/{version_id}/{basename}` ≙ the reference's
  * S3 Batch Operations copy fleet
  * (/root/reference/backend/import_dataset/task.py:86-146; key layout at
  * 104; separator DATASET_KEY_SEPARATOR = "-").
  *
  * The CSV-manifest → S3 Batch → per-object Lambda chain becomes a
  * `mapPartitions` copy over the manifest rows: each task streams its
  * files directly (1 MiB buffers), so the copy fan-out scales with
  * executors exactly like the reference's S3 Batch fleet. Metadata files
  * get their `assets.*.href` / `links[].href` rewritten to basenames in
  * flight (import_metadata_file/task.py:30-42,69-71, O-34). Per-file
  * outcomes are returned as rows — the analogue of the S3 Batch report
  * CSV (task.py:133-139) — with the reference's PermanentFailure coding.
  */
/** Per-file copy outcome ≙ one row of the S3 Batch report CSV.
  * `asset_type` identifies which upload job (METADATA/DATA) the row
  * belongs to, so ImportStatus can surface failures per section like the
  * reference's per-job FailureReasons (import_status/get.py:140-155). */
final case class CopyResult(
    dataset_id: String, version_id: String, asset_type: String, url: String,
    new_key: String, result_code: String, result_string: String)

class Importer(storageRoot: String) extends Serializable {

  private def basename(url: String): String =
    url.substring(url.lastIndexOf('/') + 1)

  /** Rewrite hrefs to basenames ≙ change_href_to_basename. */
  def rewriteMetadata(json: String): String = {
    val mapper = new ObjectMapper()
    val root = mapper.readTree(json)
    root.get("assets") match {
      case obj: ObjectNode =>
        obj.properties().forEach { e =>
          e.getValue match {
            case a: ObjectNode if a.has("href") =>
              a.put("href", basename(a.get("href").asText)): Unit
            case _ =>
          }
        }
      case _ =>
    }
    root.get("links") match {
      case arr: ArrayNode =>
        arr.forEach {
          case l: ObjectNode if l.has("href") =>
            l.put("href", basename(l.get("href").asText)): Unit
          case _ =>
        }
      case _ =>
    }
    mapper.writeValueAsString(root)
  }

  /** Transient-vs-deterministic failure taxonomy ≙ the reference's
    * RequestTimeout → TemporaryFailure split
    * (/root/reference/backend/import_asset_file/task.py:30-37): the
    * transient set is NARROW — network timeouts/resets that a retry
    * can heal. Everything deterministic (missing source, permission
    * denied, truncated stream, malformed metadata) is permanent on
    * first sight: coding it retryable burns the attempt budget and
    * reports the row as re-drivable when it never is. */
  private def isTransient(e: Throwable): Boolean = e match {
    case _: java.io.FileNotFoundException => false
    case _: java.io.EOFException => false          // truncated source: deterministic
    case _: java.nio.file.FileSystemException => false // AccessDenied/NoSuchFile/...
    case _: java.net.SocketTimeoutException => true
    case _: java.net.ConnectException => true
    case _: java.io.InterruptedIOException => true
    case e: java.io.IOException =>
      // generic IOException: retryable only when the message says so
      val m = Option(e.getMessage).getOrElse("").toLowerCase
      Seq("timeout", "timed out", "reset", "connection", "temporarily",
          "throttl", "slow down", "503", "unavailable").exists(m.contains)
    case _ => false
  }

  /** Copy all manifest rows, rewriting the hrefs of METADATA rows. Returns
    * the per-file report (order-insensitive, like the reference's copy jobs).
    *
    * Transient IO failures are retried IN the task up to `maxAttempts`
    * (the reference's copy fleet re-drives TemporaryFailure rows; a
    * Spark task retry would redo the whole partition, and local mode
    * has none at all) and reported `TemporaryFailure` only once the
    * attempts are exhausted — so one NFS/S3 hiccup no longer
    * permanently fails a file per run, and what's left as temporary is
    * honestly re-drivable by the caller. Deterministic errors stay
    * `PermanentFailure` on the first attempt. */
  def importAssets(assets: Dataset[ProcessingAssetRow], reader: UrlReader,
                   titlePrefix: String,
                   maxAttempts: Int = 3): Dataset[CopyResult] = {
    import assets.sparkSession.implicits._
    val root = storageRoot
    val self = this
    assets.mapPartitions { it =>
      val conf = new Configuration()
      it.map { a =>
        val rewrite = a.asset_type == "METADATA"
        val newKey = s"$titlePrefix/${a.version_id}/${basename(a.url)}"
        def attemptOnce(): CopyResult = {
          // source FIRST: a missing/flaky URL (the common failure) must
          // not create-truncate the destination at all — the old order
          // leaked the never-closed output stream on every failed
          // attempt AND left an empty target behind for rows reported
          // as failures
          val in = reader.open(a.url)
          try {
            val target = new Path(s"$root/$newKey")
            val fs = target.getFileSystem(conf)
            // fs.create(overwrite = true) makes a retried half-written
            // target start clean
            val out = fs.create(target, true)
            var ok = false
            try {
              if (rewrite) {
                val rewritten = self.rewriteMetadata(
                  new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
                out.write(rewritten.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              } else {
                val buf = new Array[Byte](1 << 20)
                var n = in.read(buf)
                while (n >= 0) { if (n > 0) out.write(buf, 0, n); n = in.read(buf) }
              }
              ok = true
            } finally {
              if (ok) {
                // the SUCCESS path's close() is still a write (object-
                // store streams flush on close): if it throws, the
                // target is half-written and must not survive — delete
                // it and let the close failure drive the retry/failure
                // taxonomy like any other copy error
                try out.close()
                catch { case e: Exception =>
                  try fs.delete(target, false) catch { case _: Exception => () }
                  throw e
                }
              } else {
                // a failed copy's close() can itself throw (flush-on-
                // close object-store streams); swallow it so the
                // half-written target is ALWAYS deleted and the
                // ORIGINAL failure — not the close error — propagates
                try out.close() catch { case _: Exception => () }
                try fs.delete(target, false) catch { case _: Exception => () }
              }
            }
          } finally in.close()
          CopyResult(a.dataset_id, a.version_id, a.asset_type, a.url, newKey,
            "Succeeded", "")
        }
        var attempt = 0
        var result: CopyResult = null
        while (result == null) {
          attempt += 1
          try result = attemptOnce()
          catch {
            case e: Exception if isTransient(e) && attempt < maxAttempts =>
              () // retry the row
            case e: Exception =>
              val code =
                if (isTransient(e)) "TemporaryFailure" else "PermanentFailure"
              result = CopyResult(a.dataset_id, a.version_id, a.asset_type,
                a.url, newKey, code, s"Exception: ${e.getMessage}")
          }
        }
        result
      }
    }
  }
}
