package graft.gdl

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import scala.util.Random

/** Dataset catalog CRUD ≙ the reference's datasets Lambda endpoints
  * (/root/reference/backend/datasets/{create,get,list,update,delete}.py).
  *
  * The DynamoDB table + title GSI collapse to one small parquet table;
  * point lookups and title lookups are pushdown filters (SURVEY O-1..O-4,
  * O-11, O-13). Errors mirror the reference's HTTP messages.
  */
class DatasetService(spark: SparkSession, store: TableStore,
                     rng: Random = new Random()) {
  import spark.implicits._

  private val Table = "datasets"

  private def all(): Seq[DatasetRow] =
    store.read(Table).map(_.as[DatasetRow].collect().toSeq).getOrElse(Seq.empty)

  def list(): Seq[DatasetRow] = all().sortBy(_.id)

  def get(id: String): Either[String, DatasetRow] = byId(all(), id)

  private def byId(rows: Seq[DatasetRow], id: String): Either[String, DatasetRow] =
    rows.find(_.id == id)
      .toRight(s"dataset '$id' does not exist") // get.py:46-51

  def getByTitle(title: String): Either[String, DatasetRow] =
    all().find(_.title == title)
      .toRight(s"dataset '$title' does not exist")

  def create(title: String, now: Instant): Either[String, DatasetRow] = {
    if (!Ulid.validTitle(title))
      Left(s"title '$title' does not match '${Ulid.TitlePattern}'") // create.py:11-21
    else if (all().exists(_.title == title))
      Left(s"dataset '$title' already exists") // create.py:32-36
    else {
      val ts = Timestamp.from(now)
      val row = DatasetRow(Ulid.generate(now, rng), title, ts, ts)
      store.append(Table, Seq(row).toDS().toDF())
      Right(row)
    }
  }

  def update(id: String, newTitle: String, now: Instant): Either[String, DatasetRow] =
    updateAttributes(id, Map("title" -> newTitle), now)

  /** Generic attribute update ≙ update.py:52-55
    * (`update_dataset_attributes`: every model attribute present in the
    * request body except `id` is copied onto the row — the PATCH body
    * schema requires id+title but does not forbid extra attributes).
    * Unknown keys are ignored, like `setattr` against a fixed-attribute
    * model; timestamps parse as ISO-8601 instants. `updated_at` is
    * bumped to `now` unless the body sets it explicitly. */
  def updateAttributes(id: String, attrs: Map[String, String],
                       now: Instant): Either[String, DatasetRow] = {
    def parseTs(name: String, s: String): Either[String, Timestamp] =
      try Right(Timestamp.from(Instant.parse(s)))
      catch { case _: Exception => Left(s"$name '$s' is not an ISO-8601 instant") }

    lazy val rows = all() // one catalog read serves both checks
    attrs.get("title") match {
      case Some(t) if !Ulid.validTitle(t) =>
        Left(s"title '$t' does not match '${Ulid.TitlePattern}'")
      case Some(t) if rows.exists(d => d.title == t && d.id != id) =>
        Left(s"dataset '$t' already exists") // update.py:29-33
      case _ =>
        byId(rows, id).flatMap { row =>
          val titled = attrs.get("title").fold(row)(t => row.copy(title = t))
          for {
            created <- attrs.get("created_at")
              .fold[Either[String, Timestamp]](Right(titled.created_at))(parseTs("created_at", _))
            updated <- attrs.get("updated_at")
              .fold[Either[String, Timestamp]](Right(Timestamp.from(now)))(parseTs("updated_at", _))
          } yield {
            val next = titled.copy(created_at = created, updated_at = updated)
            // row-level upsert: rewrites only the file(s) holding this
            // id, not the catalog (≙ the reference's per-item
            // UpdateItem, backend/datasets/update.py)
            store.merge(Table, Seq(next).toDS().toDF(), Seq("id"))
            next
          }
        }
    }
  }

  /** Delete; guarded by "no stored versions" ≙ the S3 prefix emptiness
    * check MaxKeys=1 (delete.py:37-45, O-11) against the manifest table. */
  def delete(id: String): Either[String, Unit] =
    get(id).flatMap { _ =>
      // processing_assets is partitioned on dataset_id: the probe prunes
      if (store.probeExists("processing_assets", col("dataset_id") === id))
        Left(s"dataset '$id' has existing versions") // delete.py:41-45
      else {
        // row-level delete (≙ DeleteItem, backend/datasets/delete.py)
        store.deleteWhere(Table, col("id") === id)
        Right(())
      }
    }
}
