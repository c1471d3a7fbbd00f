package graft.sinks

import graft.gdl.TableStore
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dead-letter routing — the operational complement of every stage that
  * would otherwise silently drop rows it cannot process (the reference
  * surfaces per-file failure rows in its import report rather than
  * discarding them; `/root/reference/backend/import_status/get.py` is
  * the shape this generalizes). A stage declares ordered validity
  * rules; rows failing one are appended to a quarantine table as
  * (source, reason, payload-JSON) and the stage processes only the
  * clean remainder — nothing vanishes, and the quarantine table is a
  * queryable backlog (count by reason, replay by source) instead of a
  * log grep.
  *
  * The payload is `to_json(struct(*))` so heterogeneous stages share
  * ONE quarantine table regardless of their input schemas (binary
  * columns ride along base64-encoded); `from_json` with the source
  * schema reverses it for replay.
  *
  * Scale: the split is two predicate filters over the input — map-only,
  * pushed into the scan when the input is one — and the append is
  * O(bad rows). No shuffle anywhere. Callers with an expensive input
  * plan should persist/checkpoint it first (both halves reference it).
  */
object DeadLetter {

  /** Split by ordered rules; each rule is (reason, badWhen) and a row
    * quarantines under the FIRST rule that matches. A rule whose
    * predicate evaluates to NULL does not match (SQL semantics) — a
    * rule meant to catch nulls must say `isNull` explicitly.
    * Returns (clean, bad + `dl_reason`). */
  def split(df: DataFrame, rules: Seq[(String, Column)])
      : (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "need at least one rule")
    // withColumn would silently REPLACE a caller's dl_reason column —
    // the tag must not shadow payload data
    require(!df.columns.contains("dl_reason"),
      "input already has a dl_reason column; rename it before splitting")
    val reason = coalesce(
      rules.map { case (name, bad) => when(bad, lit(name)) } :+
        lit(null).cast("string"): _*)
    val tagged = df.withColumn("dl_reason", reason)
    (tagged.filter(col("dl_reason").isNull).drop("dl_reason"),
     tagged.filter(col("dl_reason").isNotNull))
  }

  /** Route bad rows to `table` in the store and return the clean rows.
    * Append-only: each call logs what IT saw — retries of a crashed
    * batch should go through [[quarantineBatch]], which is replay-
    * guarded; this form is for one-shot batch stages. */
  def quarantine(store: TableStore, table: String, source: String,
                 df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val (clean, bad) = split(df, rules)
    val rows = quarantineRows(bad, source)
    if (!rows.isEmpty) store.append(table, rows)
    clean
  }

  /** Streaming/retryable form: tag the quarantined rows with the
    * caller's batch id and skip the append when that id is already
    * present — the same at-least-once guard StreamingValidation uses
    * (rows and tag commit atomically in one generation, so a crash
    * between append and the caller's checkpoint cannot double-write).
    * Returns the clean rows either way. */
  def quarantineBatch(store: TableStore, table: String, source: String,
                      batchId: Long, df: DataFrame,
                      rules: Seq[(String, Column)]): DataFrame = {
    val (clean, bad) = split(df, rules)
    // zone-pruned probe (see TableStore.probeExists): each batch
    // appends one constant-batch_id generation, so the guard opens at
    // most that generation instead of rescanning the whole quarantine
    // table every micro-batch
    val replayed = store.probeExists(table,
      col("batch_id") === batchId && col("source") === source)
    if (!replayed) {
      val rows = quarantineRows(bad, source)
        .withColumn("batch_id", lit(batchId))
      if (!rows.isEmpty) store.append(table, rows)
    }
    clean
  }

  private def quarantineRows(bad: DataFrame, source: String): DataFrame = {
    val payloadCols = bad.columns.filter(_ != "dl_reason").map(col)
    bad.select(lit(source).as("source"), col("dl_reason").as("reason"),
      to_json(struct(payloadCols.toSeq: _*)).as("payload"))
  }

  /** Read one source's quarantined rows back as typed rows (plus the
    * reason) for reprocessing after the upstream defect is fixed — the
    * other half of the dead-letter loop. `schema` is the original input
    * schema; fields it names that a payload lacks come back null, which
    * is exactly the malformed state that quarantined the row. */
  def replay(store: TableStore, table: String, source: String,
             schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val q = store.read(table).getOrElse(
      throw new IllegalStateException(s"no quarantine table '$table'"))
    q.filter(col("source") === source)
      .select(from_json(col("payload"), schema).as("row"), col("reason"))
      .select(col("row.*"), col("reason"))
  }
}
