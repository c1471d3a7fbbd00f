package graft.streaming

import graft.gdl.TableStore
import graft.operators.QualityRules
import graft.sinks.DeadLetter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming corpus curation gate: documents arriving in a stream are
  * scored by the [[QualityRules]] battery per micro-batch; passing docs
  * append to the curated table, failing docs go to the dead-letter
  * table with the first violated rule as the reason (q135's rules, the
  * same oracle-pinned expressions — composition, not a redesign,
  * mirroring [[StreamingValidation]]'s shape).
  *
  * Exactly-once: `foreachBatch` replays are detected per sink with the
  * zone-map-pruned batch_id probe. The two appends (quarantine, then
  * curated) are separately guarded, so a crash BETWEEN them converges
  * on replay: the quarantine probe skips its re-append, the curated
  * probe sees its append missing and completes it — no loss, no
  * double-write.
  */
object StreamingQualityGate {

  /** Start gating a stream of document rows (parquet files with
    * `schema`, which must include a `text` column and no columns named
    * like the rule/signal outputs). */
  def start(spark: SparkSession, docsDir: String, schema: StructType,
            store: TableStore, curatedTable: String,
            quarantineTable: String, checkpointDir: String): StreamingQuery = {
    val docCols = schema.fieldNames.toSeq
    spark.readStream.schema(schema).parquet(docsDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val flagged = QualityRules.withSignals(batch, "text")
        // quarantine payload keeps the signal columns — the "why" a
        // reprocessing pass reads — while the curated table keeps the
        // clean document schema
        val clean = DeadLetter.quarantineBatch(store, quarantineTable,
          "quality_gate", batchId, flagged, QualityRules.violations)
        val replayed = store.probeExists(curatedTable,
          col("batch_id") === batchId)
        if (!replayed) {
          val rows = clean.select(docCols.map(col): _*)
            .withColumn("batch_id", lit(batchId))
          if (!rows.isEmpty) store.append(curatedTable, rows)
        }
      }
      .start()
  }
}
