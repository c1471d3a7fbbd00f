package graft.operators

import graft.plans.AsOfJoinPlan
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanApi

/** Backward as-of join: each left row picks the latest right row with
  * `right.ts <= left.ts` within the same key group (the time-series /
  * event-enrichment join Spark lacks as a builtin).
  *
  * Implementation is the union + windowed last-value carry-forward:
  * tag right rows 0 and left rows 1, union, sort within each key by
  * (ts, tag) — so a right row at the exact left timestamp sorts first
  * and IS matched (inclusive semantics, like DuckDB's ASOF JOIN on
  * `l.ts >= r.ts`) — then `last(payload, ignoreNulls)` over an
  * unbounded-preceding window carries the right payload forward onto
  * each left row.
  *
  * Scale: ONE shuffle on the key columns + a sort within partitions —
  * same cost as a sort-merge join, no range explosion, no per-row probe.
  * Skewed keys fall out of AQE's skew-split since the window partitions
  * by key only.
  */
object AsOfJoin {

  /** @param left        left rows; must contain `keys` and `tsCol`
    * @param right       right rows; must contain `keys`, `tsCol`, and
    *                    `rightPayload` columns (payload names must not
    *                    collide with left's columns)
    * @param keys        equi-join key columns
    * @param tsCol       event-time column (any orderable type)
    * @param rightPayload right columns to carry onto left rows (null when
    *                    no right row precedes the left row)
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               tsCol: String, rightPayload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // common layout: keys ++ ts ++ tag ++ leftPayload ++ payload struct.
    // The payload travels as ONE struct, not per-column: per-column
    // last(ignoreNulls) cannot tell the left-row placeholder nulls from
    // a REAL null in the matched right row, so it would carry a stale
    // value over a genuine null and stitch together columns from
    // DIFFERENT right rows. A right row's struct is non-null as a whole
    // even when its fields are null, so ignoreNulls skips exactly the
    // left placeholders.
    val leftOnly = leftCols.filterNot(c => keys.contains(c) || c == tsCol)
    val payloadType = org.apache.spark.sql.types.StructType(
      rightPayload.map(c => right.schema(c).copy(name = c)))
    val l = left
      .withColumn("_tag", lit(1))
      .select((keys :+ tsCol).map(col) ++ Seq(col("_tag")) ++
        leftOnly.map(col) :+
        lit(null).cast(payloadType).as("_r"): _*)
    val r = right
      .withColumn("_tag", lit(0))
      .select((keys :+ tsCol).map(col) ++ Seq(col("_tag")) ++
        leftOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        struct(rightPayload.map(col): _*).as("_r"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).asc, col("_tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("_c", last(col("_r"), ignoreNulls = true).over(w))
    carried.filter(col("_tag") === 1)
      .select((keys :+ tsCol).map(col) ++ leftOnly.map(col) ++
        rightPayload.map(c => col("_c").getField(c).as(c)): _*)
  }

  /** Same semantics as [[backward]], executed by the custom
    * whole-operator plan ([[graft.plans.AsOfJoinPlan]] →
    * [[graft.plans.AsOfJoinExec]]): each side is shuffled with only its
    * own columns and a single streaming merge replaces the union +
    * window carry-forward. Output: all left columns, then
    * `rightPayload` (null where no right row precedes).
    *
    * The right child is re-aliased to fresh attribute ids, so both
    * sides may derive from the same source table (self-join safe). The
    * planner strategy is registered idempotently on the session, so
    * callers need no session-level setup. */
  def backwardPlanned(left: DataFrame, right: DataFrame, keys: Seq[String],
                      tsCol: String, rightPayload: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    graft.GraftExtensions.registerPlanner(spark)

    val lPlan = left.queryExecution.analyzed
    val rAnalyzed = right.queryExecution.analyzed
    // fresh exprIds on the right: both sides may share lineage (e.g. two
    // filters of one table), which would otherwise duplicate ids in output
    val rPlan: LogicalPlan =
      Project(rAnalyzed.output.map(a => Alias(a, a.name)()), rAnalyzed)

    // resolve names with the session's resolver so case sensitivity
    // matches df.select (case-insensitive unless spark.sql.caseSensitive)
    val resolver = spark.sessionState.conf.resolver
    def attr(p: LogicalPlan, n: String) =
      p.output.find(a => resolver(a.name, n)).getOrElse(
        throw new IllegalArgumentException(
          s"column '$n' not in [${p.output.map(_.name).mkString(", ")}]"))

    PlanApi.ofRows(spark, AsOfJoinPlan(
      lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, tsCol), attr(rPlan, tsCol),
      rightPayload.map(attr(rPlan, _))))
  }
}
