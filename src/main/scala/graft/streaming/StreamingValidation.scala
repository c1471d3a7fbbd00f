package graft.streaming

import graft.gdl.{ChecksumValidator, ProcessingAssetRow, TableStore, UrlReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of the checksum-validation stage: because the batch
  * stage is a pure `Dataset → Dataset` function (SURVEY §1.3's design
  * constraint), wiring it under `foreachBatch` is composition, not a
  * redesign. New manifest rows arriving in the stream are checksummed
  * and their validation rows appended to the store, micro-batch by
  * micro-batch — continuous ingestion validation for a lake receiving
  * assets around the clock.
  *
  * Exactly-once: `foreachBatch` is at-least-once on restart, and
  * TableStore.append is NOT row-idempotent (each append is a new delta
  * generation), so validation rows are tagged with the micro-batch id
  * and a replayed batch is detected by a zone-map-pruned probe on the
  * id column (O(1) generations opened, not O(table)) and skipped.
  * Rows and tag commit atomically (per-table append), so a crash
  * between append and the sink checkpoint cannot double-write.
  */
object StreamingValidation {

  /** Start validating a stream of manifest rows (ProcessingAssetRow
    * schema, parquet files arriving in `manifestDir`). */
  def start(spark: SparkSession, manifestDir: String, reader: UrlReader,
            store: TableStore, checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val schema = org.apache.spark.sql.Encoders.product[ProcessingAssetRow].schema
    spark.readStream.schema(schema).parquet(manifestDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.{col, lit}
        // replay guard: a restart between append and checkpoint commit
        // re-runs this batchId; the tag column makes that visible.
        // Zone-pruned probe: each batch appends ONE generation with a
        // constant batch_id, so this opens at most that generation —
        // not an O(table) scan per micro-batch.
        val replayed = store.probeExists("validation_results",
          col("batch_id") === batchId)
        if (!replayed && !batch.isEmpty) {
          val rows = ChecksumValidator.validate(
            spark, batch.as[ProcessingAssetRow], reader)
          store.append("validation_results",
            rows.toDF().withColumn("batch_id", lit(batchId)))
        }
      }
      .start()
  }
}
