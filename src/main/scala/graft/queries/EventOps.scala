package graft.queries

import graft.Tables
import graft.operators.AsOfJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream operators over the `events` table: tumbling-window
  * aggregation, gap-based sessionization, and the backward as-of join.
  * These are the batch forms of the Structured-Streaming operators; the
  * same DataFrame transforms run under `readStream`/`foreachBatch`
  * unchanged. Timestamps surface as epoch microseconds (BIGINT) to stay
  * engine-neutral (the source column is nanos parquet, see
  * [[graft.Tables]]).
  */
object EventOps {

  private val gapUs = 30L * 60 * 1000 * 1000 // 30-minute session gap
  private val ctxGapUs = 24L * 3600 * 1000 * 1000 // q182 chat-session gap

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Time-series gap fill + LOCF — densify each user's hourly series
    // over their observed span and carry the last observed hourly sum
    // through silent hours (the dashboard/feature-freshness op). The
    // grid explode is per-user-span-sized; the fill window partitions
    // per user — never a global sort. First grid hour is always
    // observed (the span starts at an observation), so no null survives.
    "q122_gap_fill" -> ((s, d) => {
      val hourUs = 3600000000L
      val obs = Tables.load(s, d, "events")
        .groupBy(col("user_id"),
                 unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast(DecimalType(18, 2))).cast("double")
               .as("hour_sum"))
      val grid = obs.groupBy(col("user_id"))
        .agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), lit(hourUs))).as("hour_us"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("hour_us"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("user_id", "hour_us"), "left")
        .select(col("user_id"), col("hour_us"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("hour_sum"), ignoreNulls = true).over(w).as("value_filled"),
          when(col("n_events").isNull, 1L).otherwise(0L).as("is_gap"))
    }),

    // Per-type linear trend + correlation — drift detection over a
    // metric stream: ONE map-side-combinable aggregate of integer
    // moment sums (hour index × cent-quantized value, every sum < 2^53
    // so the double conversions are exact and the final few IEEE ops
    // are bit-identical in any engine), then closed-form OLS slope/
    // intercept and Pearson r. No window, no second scan.
    "q125_trend_stats" -> ((s, d) => {
      val x = floor((unix_micros(date_trunc("hour", col("ts")))
        - 1704067200000000L) / 3600000000L).cast("long")
      val y = floor(col("value") * 100 + 0.5).cast("long")
      val m = Tables.load(s, d, "events")
        .select(col("event_type"), x.as("x"), y.as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
             sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"),
             sum(col("x") * col("y")).as("sxy"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") / 100.0
      m.select(col("event_type"), col("n"),
        slope.as("slope_per_hour"),
        (col("sy").cast("double") / 100.0 / col("n").cast("double")
          - slope * (col("sx").cast("double") / col("n").cast("double")))
          .as("intercept"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
            * (col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("pearson_r"))
    }),

    // Tumbling hourly window per event type: count + exact-decimal sum.
    "q29_window_agg" -> ((s, d) => {
      Tables.load(s, d, "events")
        .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
                 col("event_type"))
        .agg(count(lit(1)).as("n_events"),
             sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
    }),

    // Gap-based sessionization (30 min): per-session row with bounds.
    "q30_sessionize" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts_us")).as("start_us"),
             max(col("ts_us")).as("end_us"))
    }),

    // Episode/trajectory assembly — turning an event log into ordered
    // training episodes (the SFT/agent-trace construction step): q30's
    // gap sessionization, then the per-session turn sequence joined
    // in (ts, event_id) order. collect_list is bounded by the session
    // (gap-bounded by construction, never the corpus); the groupBy
    // reuses the window's user_id hash partitioning (clustering by
    // user_id satisfies (user_id, session_id)) so sessionize +
    // assemble is ONE shuffle end to end. Ordering is deterministic:
    // array_sort on struct(ts_us, event_id, _) ≡ the oracle's
    // string_agg ORDER BY ts_us, event_id.
    "q161_episode_assembly" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .withColumn("new_s",
          when(col("prev_us").isNull || col("ts_us") - col("prev_us") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).cast("long").as("n_turns"),
             (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
             array_join(transform(
               array_sort(collect_list(
                 struct(col("ts_us"), col("event_id"), col("event_type")))),
               x => x.getField("event_type")), "->").as("trajectory"))
    }),

    // Chat-format rendering + context-window truncation — the SFT
    // serialization step after q161's assembly (see ChatRender): a
    // 24 h gap (chat boundaries, not the 30-min analytics gap) so
    // sessions get long enough that the 24-token budget truncates
    // ~1/3 of them at every sf; per-turn token counts are DECLARED
    // (1 + k mod 5 from the props payload — at 100 TB they come from
    // the tokenizer, not the renderer). One shuffle end to end.
    "q182_chat_render" -> ((s, d) =>
      graft.operators.ChatRender.render(
        Tables.load(s, d, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("event_type"),
            (lit(1L) + pmod(get_json_object(col("props"), "$.k")
              .cast("long"), lit(5L))).as("turn_tokens")),
        gapUs = ctxGapUs, budgetTokens = 24L)),

    // The BUILT-IN gap sessionization (Catalyst SessionWindow, the same
    // operator Structured Streaming uses for streaming sessions) next
    // to q30's window-composed form. Boundary semantics differ by
    // design: session_window merges on window OVERLAP (diff < gap), so
    // an exactly-gap-apart event starts a NEW session — the oracle's
    // island break is `>= gap` where q30's is `> gap`.
    "q108_session_window" -> ((s, d) =>
      Tables.load(s, d, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n_events"))),

    // Skew-resistant two-phase salted aggregation: 5 hot event-type keys
    // split across 16 salt buckets for the partial, merged in a tiny
    // second shuffle — results identical to the plain groupBy.
    "q36_salted_agg" -> ((s, d) => {
      graft.operators.Salted.aggregate(
          Tables.load(s, d, "events"), "event_type", "value")
        .select(col("event_type"), col("n_rows").cast("long").as("n_rows"),
                col("sum_value"))
    }),

    // O-36: ISO-8601 UTC datetime formatting ≙ the reference's as_dict
    // serialization (backend/clock.py:1-5, datasets_model.py:57-61).
    "q37_iso_datetime" -> ((s, d) => {
      Tables.load(s, d, "orders")
        .filter(col("o_orderkey") < 500L)
        // parquet NTZ timestamp → session-UTC instant for epoch math
        .withColumn("_ts", col("o_orderdate").cast("timestamp"))
        .select(col("o_orderkey"),
          date_format(col("_ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSSZ").as("iso"),
          unix_micros(col("_ts")).as("epoch_us"))
    }),

    // Band range join: (purchase, error) event pairs of the same user
    // within ±5 minutes, via tolerance-bucketed equi-join (no per-key
    // cross product).
    "q47_range_join" -> ((s, d) => {
      val events = Tables.load(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
                col("ts_us").as("purchase_us"))
      val errors = events.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("error_id"),
                col("ts_us").as("error_us"))
      graft.operators.RangeJoin.byTolerance(purchases, errors,
          keys = Seq("user_id"), leftTs = "purchase_us", rightTs = "error_us",
          tolerance = 5L * 60 * 1000 * 1000)
        .select(col("user_id"), col("purchase_id"), col("error_id"),
                col("purchase_us"), col("error_us"))
    }),

    // Backward as-of join: each purchase picks the latest signup of the
    // same user at or before its timestamp (null if none).
    "q31_asof_join" -> ((s, d) => {
      val events = Tables.load(s, d, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      // dedup right side per (user, ts): keep max event_id (deterministic)
      val signups = events.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("signup_event_id"))
        .withColumn("signup_ts_us", unix_micros(col("ts")))
      AsOfJoin.backward(purchases, signups,
          keys = Seq("user_id"), tsCol = "ts",
          rightPayload = Seq("signup_event_id", "signup_ts_us"))
        .select(col("event_id"), col("user_id"),
                unix_micros(col("ts")).as("purchase_ts_us"),
                col("value"), col("signup_event_id"), col("signup_ts_us"))
    }),

    // Same as-of semantics through the custom whole-operator plan
    // Ordered funnel view → click → purchase: each step's timestamp is
    // the user's earliest qualifying event STRICTLY AFTER the previous
    // step. Three per-user aggregates chained by equi-join — every
    // stage shuffles on user_id only, so the whole funnel is three
    // map-side-combinable min-aggs at any scale.
    "q82_funnel" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
        .withColumn("ts_us", unix_micros(col("ts")))
      val users = ev.select(col("user_id")).distinct()
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1_us"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, Seq("user_id"))
        .filter(col("ts_us") > col("t1_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2_us"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, Seq("user_id"))
        .filter(col("ts_us") > col("t2_us"))
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3_us"))
      users
        .join(t1, Seq("user_id"), "left")
        .join(t2, Seq("user_id"), "left")
        .join(t3, Seq("user_id"), "left")
        .select(col("user_id"), col("t1_us"), col("t2_us"), col("t3_us"),
          when(col("t3_us").isNotNull, 3L)
            .when(col("t2_us").isNotNull, 2L)
            .when(col("t1_us").isNotNull, 1L)
            .otherwise(0L).as("steps"))
    }),

    // Cohort retention matrix: users cohorted by first-signup week,
    // activity bucketed by week offset. Weeks are integer epoch-week
    // indexes ((ts_us − 2024-01-01) div 7d) — pure long division, no
    // engine calendar semantics in the value-checked path.
    "q83_cohort_retention" -> ((s, d) => {
      val base = 1704067200000000L // 2024-01-01T00:00:00Z
      val weekUs = 7L * 86400 * 1000 * 1000
      val ev = Tables.load(s, d, "events")
        .withColumn("week_idx",
          expr(s"(unix_micros(ts) - ${base}L) div ${weekUs}L"))
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(min(col("week_idx")).as("cohort_week"))
      val sizes = cohorts.groupBy(col("cohort_week"))
        .agg(count_distinct(col("user_id")).as("n_cohort"))
      val active = ev.join(cohorts, Seq("user_id"))
        .filter(col("week_idx") >= col("cohort_week"))
        .select(col("user_id"), col("cohort_week"),
          (col("week_idx") - col("cohort_week")).as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_active"))
      active.join(broadcast(sizes), Seq("cohort_week"))
        .select(col("cohort_week"), col("week_offset"),
          col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort").cast("double"))
            .as("retention"))
    }),

    // (AsOfJoinPlan → AsOfJoinExec via planner strategy) — q31 and q58
    // share one oracle, so the two implementations are pinned equal.
    "q58_asof_planned" -> ((s, d) => {
      val events = Tables.load(s, d, "events")
      val purchases = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      val signups = events.filter(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("signup_event_id"))
        .withColumn("signup_ts_us", unix_micros(col("ts")))
      AsOfJoin.backwardPlanned(purchases, signups,
          keys = Seq("user_id"), tsCol = "ts",
          rightPayload = Seq("signup_event_id", "signup_ts_us"))
        .select(col("event_id"), col("user_id"),
                unix_micros(col("ts")).as("purchase_ts_us"),
                col("value"), col("signup_event_id"), col("signup_ts_us"))
    }),

    // Exact heavy hitters via per-partition Misra-Gries summaries + an
    // exact verify pass over the candidate union — no full-key shuffle;
    // output is provably every key above the n/k line.
    "q97_heavy_hitters" -> ((s, d) =>
      graft.operators.HeavyHitters.exact(
        Tables.load(s, d, "events"), "event_type", k = 8)),

    // Per-type z-score anomaly ranking: moment sums over the exact
    // 2-decimal long grid (order-free), one broadcast of 5 stat rows
    // back against the stream, top-50 by |z| via TakeOrdered.
    "q98_value_anomaly" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          floor(col("value") * 100 + 0.5).cast("long").as("vc"))
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("vc")).as("sv"),
          sum(col("vc") * col("vc")).as("svv"))
        .select(col("event_type"),
          (col("sv").cast("double") / 100.0 / col("n").cast("double")).as("mean"),
          sqrt((col("svv").cast("double") / 10000.0 / col("n").cast("double")) -
            (col("sv").cast("double") / 100.0 / col("n").cast("double")) *
            (col("sv").cast("double") / 100.0 / col("n").cast("double"))).as("std"))
      ev.join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"), col("event_type"), col("value"),
          ((col("vc").cast("double") / 100.0 - col("mean")) / col("std")).as("z"))
        .orderBy(abs(col("z")).desc, col("event_id"))
        .limit(50)
    }),

    // Changelog → SCD-2 dimension view: each user's event-type stream
    // collapses consecutive repeats (gaps-and-islands) into validity
    // intervals [valid_from, valid_to) with an open current row — the
    // slowly-changing-dimension build every warehouse needs from a CDC
    // feed. All windows partition on user_id; epoch-micros longs keep
    // calendar semantics out of the value-checked path.
    // Point-in-time join (the feature-store lookup): each event joins
    // the SCD2 dimension row valid AT its timestamp —
    // valid_from ≤ ts < valid_to, null valid_to = open. Per-user
    // dimension history is small (one row per attribute change), so the
    // equi-join on user_id carries bounded fan-out and the containment
    // predicate is a post-join filter, never an inequality-only join;
    // zero-width intervals (adjacent islands sharing a timestamp)
    // contain nothing, so every event lands in EXACTLY one row with no
    // tie-break needed. Dimension here = q101's intervals over the same
    // events, making containment self-checking: dim_event_type must
    // equal the event's own type.
    "q111_pit_join" -> ((s, d) => {
      val dim = queries("q101_scd2_intervals")(s, d)
        .select(col("user_id"), col("event_type").as("dim_event_type"),
          col("valid_from_us"), col("valid_to_us"))
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") < 100L)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
      ev.join(dim, Seq("user_id"))
        .filter(col("valid_from_us") <= col("ts_us") &&
          (col("valid_to_us").isNull || col("ts_us") < col("valid_to_us")))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("event_type"), col("dim_event_type"), col("valid_from_us"),
          (col("event_type") === col("dim_event_type")).as("consistent"))
    }),

    "q101_scd2_intervals" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val ev = Tables.load(s, d, "events")
        .filter(col("user_id") < 100L)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
      ev.withColumn("chg",
          when(col("event_type") === lag(col("event_type"), 1).over(w), 0L)
            .otherwise(1L))
        .withColumn("grp", sum(col("chg")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
        .groupBy(col("user_id"), col("grp"), col("event_type"))
        .agg(min(col("ts_us")).as("valid_from_us"),
          count(lit(1)).as("n_events"))
        .withColumn("valid_to_us",
          // grp is strictly increasing along each user's timeline, so
          // ordering the interval chain by it is tie-proof even when
          // adjacent islands share a timestamp
          lead(col("valid_from_us"), 1).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("user_id")).orderBy(col("grp"))))
        .select(col("user_id"), col("event_type"),
          col("valid_from_us"), col("valid_to_us"), col("n_events"),
          col("valid_to_us").isNull.as("is_current"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q82_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
                           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                    FROM events),
         users AS (SELECT DISTINCT user_id FROM e),
         t1 AS (SELECT user_id, min(ts_us) AS t1_us FROM e
                WHERE event_type = 'view' GROUP BY user_id),
         t2 AS (SELECT e.user_id, min(ts_us) AS t2_us
                FROM e JOIN t1 USING (user_id)
                WHERE event_type = 'click' AND ts_us > t1_us
                GROUP BY e.user_id),
         t3 AS (SELECT e.user_id, min(ts_us) AS t3_us
                FROM e JOIN t2 USING (user_id)
                WHERE event_type = 'purchase' AND ts_us > t2_us
                GROUP BY e.user_id)
         SELECT user_id, t1_us, t2_us, t3_us,
                CAST(CASE WHEN t3_us IS NOT NULL THEN 3
                          WHEN t2_us IS NOT NULL THEN 2
                          WHEN t1_us IS NOT NULL THEN 1
                          ELSE 0 END AS BIGINT) AS steps
         FROM users
         LEFT JOIN t1 USING (user_id)
         LEFT JOIN t2 USING (user_id)
         LEFT JOIN t3 USING (user_id)""",

    "q83_cohort_retention" ->
      """WITH e AS (SELECT user_id, event_type,
                           (epoch_us(CAST(ts AS TIMESTAMP)) - 1704067200000000)
                             // 604800000000 AS week_idx
                    FROM events),
         cohorts AS (SELECT user_id, min(week_idx) AS cohort_week FROM e
                     WHERE event_type = 'signup' GROUP BY user_id),
         sizes AS (SELECT cohort_week,
                          CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort
                   FROM cohorts GROUP BY cohort_week),
         active AS (SELECT c.cohort_week,
                           e.week_idx - c.cohort_week AS week_offset,
                           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
                    FROM e JOIN cohorts c USING (user_id)
                    WHERE e.week_idx >= c.cohort_week
                    GROUP BY c.cohort_week, e.week_idx - c.cohort_week)
         SELECT a.cohort_week, a.week_offset, a.n_active, s.n_cohort,
                CAST(a.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE)
                  AS retention
         FROM active a JOIN sizes s USING (cohort_week)""",

    "q125_trend_stats" ->
      """WITH e AS (SELECT event_type,
                           (epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                              - 1704067200000000) // 3600000000 AS x,
                           CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
                    FROM events),
          m AS (SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(y * y) AS BIGINT) AS syy,
                       CAST(sum(x * y) AS BIGINT) AS sxy
                FROM e GROUP BY event_type)
          SELECT event_type, n,
                 CAST(n * sxy - sx * sy AS DOUBLE)
                   / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0
                   AS slope_per_hour,
                 CAST(sy AS DOUBLE) / 100.0 / CAST(n AS DOUBLE)
                   - (CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0)
                     * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                   AS intercept,
                 CAST(n * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          * CAST(n * syy - sy * sy AS DOUBLE)) AS pearson_r
          FROM m""",

    "q122_gap_fill" ->
      """WITH obs AS (SELECT user_id,
                            epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                              AS hour_us,
                            CAST(count(*) AS BIGINT) AS n_events,
                            CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                              AS hour_sum
                     FROM events GROUP BY 1, 2),
          span AS (SELECT user_id, min(hour_us) AS lo, max(hour_us) AS hi
                   FROM obs GROUP BY user_id),
          grid AS (SELECT user_id, CAST(t.h AS BIGINT) AS hour_us
                   FROM span, unnest(range(lo, hi + 1, 3600000000)) AS t(h)),
          j AS (SELECT g.user_id, g.hour_us, o.n_events, o.hour_sum
                FROM grid g LEFT JOIN obs o
                  ON o.user_id = g.user_id AND o.hour_us = g.hour_us)
          SELECT user_id, hour_us,
                 coalesce(n_events, 0) AS n_events,
                 last_value(hour_sum IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY hour_us
                         ROWS UNBOUNDED PRECEDING) AS value_filled,
                 CAST(CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS BIGINT)
                   AS is_gap
          FROM j""",

    "q29_window_agg" ->
      """SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hour_us,
                event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""",

    "q30_sessionize" ->
      s"""WITH e AS (SELECT event_id, user_id,
                            epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                     FROM events),
          l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) AS prev_us FROM e),
          f AS (SELECT *, CASE WHEN prev_us IS NULL
                                 OR ts_us - prev_us > $gapUs
                               THEN 1 ELSE 0 END AS new_s FROM l),
          c AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id FROM f)
          SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                 CAST(count(*) AS BIGINT) AS n_events,
                 min(ts_us) AS start_us, max(ts_us) AS end_us
          FROM c GROUP BY user_id, session_id""",

    "q161_episode_assembly" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
                            epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                     FROM events),
          l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) AS prev_us FROM e),
          f AS (SELECT *, CASE WHEN prev_us IS NULL
                                 OR ts_us - prev_us > $gapUs
                               THEN 1 ELSE 0 END AS new_s FROM l),
          c AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id FROM f)
          SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                 CAST(count(*) AS BIGINT) AS n_turns,
                 max(ts_us) - min(ts_us) AS duration_us,
                 string_agg(event_type, '->' ORDER BY ts_us, event_id)
                   AS trajectory
          FROM c GROUP BY user_id, session_id""",

    // Mirrors ChatRender.render: the q161 sessionize chain at the
    // 24 h gap, a suffix token-sum window (newest first, boundary
    // inclusive), row_number over the KEPT turns for the role
    // alternation, string_agg in (ts, event_id) order ≡ the Spark
    // side's array_sort + indexed transform. The kept-side join is
    // LEFT + coalesce so a session whose newest turn alone exceeded
    // the budget would still emit (0 kept, '') exactly like the Spark
    // side — total by construction, not by fixture accident; the
    // tokens mirror pmod (((k % 5) + 5) % 5) so a negative payload
    // could not split the engines either.
    "q182_chat_render" ->
      s"""WITH e AS (SELECT event_id, user_id, event_type,
                            epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                            CAST(json_extract(props, '$$.k') AS BIGINT) AS k
                     FROM events),
          l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) AS prev_us FROM e),
          f AS (SELECT *, CASE WHEN prev_us IS NULL
                                 OR ts_us - prev_us > $ctxGapUs
                               THEN 1 ELSE 0 END AS new_s FROM l),
          c AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS session_id FROM f),
          t AS (SELECT user_id, session_id, event_id, ts_us, event_type,
                  1 + ((k % 5) + 5) % 5 AS turn_tokens FROM c),
          sfx AS (SELECT *, sum(turn_tokens)
                    OVER (PARTITION BY user_id, session_id
                          ORDER BY ts_us DESC, event_id DESC
                          ROWS UNBOUNDED PRECEDING) <= 24 AS keep
                  FROM t),
          kr AS (SELECT *, row_number()
                   OVER (PARTITION BY user_id, session_id
                         ORDER BY ts_us, event_id) AS ki
                 FROM sfx WHERE keep),
          agg AS (SELECT user_id, session_id,
                    CAST(count(*) AS BIGINT) AS n_turns_kept,
                    CAST(sum(turn_tokens) AS BIGINT) AS tokens_kept,
                    string_agg(CASE WHEN ki % 2 = 1 THEN 'user: '
                                    ELSE 'assistant: ' END || event_type,
                               chr(10) ORDER BY ts_us, event_id) AS rendered
                  FROM kr GROUP BY user_id, session_id),
          tot AS (SELECT user_id, session_id,
                    CAST(count(*) AS BIGINT) AS n_turns_total
                  FROM sfx GROUP BY user_id, session_id)
          SELECT t2.user_id, CAST(t2.session_id AS BIGINT) AS session_id,
                 t2.n_turns_total,
                 coalesce(a.n_turns_kept, 0) AS n_turns_kept,
                 coalesce(a.tokens_kept, 0) AS tokens_kept,
                 coalesce(a.rendered, '') AS rendered
          FROM tot t2 LEFT JOIN agg a
            ON t2.user_id = a.user_id AND t2.session_id = a.session_id""",

    "q36_salted_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type""",

    "q37_iso_datetime" ->
      """SELECT o_orderkey,
                strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%f') || '+0000' AS iso,
                epoch_us(o_orderdate) AS epoch_us
         FROM orders WHERE o_orderkey < 500""",

    "q47_range_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
                           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                    FROM events)
         SELECT p.user_id, p.event_id AS purchase_id, x.event_id AS error_id,
                p.ts_us AS purchase_us, x.ts_us AS error_us
         FROM e p JOIN e x
           ON p.user_id = x.user_id
          AND p.event_type = 'purchase' AND x.event_type = 'error'
          AND abs(p.ts_us - x.ts_us) <= 300000000""",

    "q31_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
                    FROM events WHERE event_type = 'purchase'),
          s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                       CAST(max(event_id) AS BIGINT) AS signup_event_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS signup_ts_us
                FROM events WHERE event_type = 'signup'
                GROUP BY user_id, CAST(ts AS TIMESTAMP))
          SELECT p.event_id, p.user_id,
                 epoch_us(p.ts) AS purchase_ts_us, p.value,
                 s.signup_event_id, s.signup_ts_us
          FROM p ASOF LEFT JOIN s
            ON p.user_id = s.user_id AND p.ts >= s.ts""",

    "q58_asof_planned" ->
      """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
                    FROM events WHERE event_type = 'purchase'),
          s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
                       CAST(max(event_id) AS BIGINT) AS signup_event_id,
                       epoch_us(CAST(ts AS TIMESTAMP)) AS signup_ts_us
                FROM events WHERE event_type = 'signup'
                GROUP BY user_id, CAST(ts AS TIMESTAMP))
          SELECT p.event_id, p.user_id,
                 epoch_us(p.ts) AS purchase_ts_us, p.value,
                 s.signup_event_id, s.signup_ts_us
          FROM p ASOF LEFT JOIN s
            ON p.user_id = s.user_id AND p.ts >= s.ts""",

    "q97_heavy_hitters" ->
      """WITH tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM events),
          c AS (SELECT CAST(event_type AS VARCHAR) AS key,
                       CAST(count(*) AS BIGINT) AS cnt
                FROM events GROUP BY 1)
          SELECT key, cnt, n FROM c CROSS JOIN tot WHERE cnt * 8 > n""",

    "q98_value_anomaly" ->
      """WITH ev AS (SELECT event_id, event_type, value,
                            CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
                     FROM events),
          st AS (SELECT event_type,
                        CAST(sum(vc) AS DOUBLE) / 100.0
                          / CAST(count(*) AS DOUBLE) AS mean,
                        sqrt((CAST(sum(vc * vc) AS DOUBLE) / 10000.0
                                / CAST(count(*) AS DOUBLE))
                             - (CAST(sum(vc) AS DOUBLE) / 100.0
                                  / CAST(count(*) AS DOUBLE))
                               * (CAST(sum(vc) AS DOUBLE) / 100.0
                                    / CAST(count(*) AS DOUBLE))) AS std
                 FROM ev GROUP BY event_type)
          SELECT event_id, ev.event_type, value,
                 (CAST(vc AS DOUBLE) / 100.0 - mean) / std AS z
          FROM ev JOIN st USING (event_type)
          ORDER BY abs((CAST(vc AS DOUBLE) / 100.0 - mean) / std) DESC, event_id
          LIMIT 50""",

    "q111_pit_join" ->
      """WITH ev AS (SELECT user_id, event_id,
                            epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                            event_type
                     FROM events WHERE user_id < 100),
          c AS (SELECT *,
                       CASE WHEN event_type = lag(event_type) OVER w
                            THEN 0 ELSE 1 END AS chg
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
          g AS (SELECT *,
                       sum(chg) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
                         AS grp
                FROM c),
          isl AS (SELECT user_id, grp, event_type,
                         CAST(min(ts_us) AS BIGINT) AS valid_from_us
                  FROM g GROUP BY user_id, grp, event_type),
          dim AS (SELECT user_id, event_type AS dim_event_type,
                         valid_from_us,
                         lead(valid_from_us) OVER (PARTITION BY user_id
                           ORDER BY grp) AS valid_to_us
                  FROM isl)
          SELECT event_id, ev.user_id, CAST(ev.ts_us AS BIGINT) AS ts_us,
                 ev.event_type, dim_event_type,
                 valid_from_us,
                 (ev.event_type = dim_event_type) AS consistent
          FROM ev JOIN dim ON ev.user_id = dim.user_id
            AND valid_from_us <= ev.ts_us
            AND (valid_to_us IS NULL OR ev.ts_us < valid_to_us)""",

    "q101_scd2_intervals" ->
      """WITH ev AS (SELECT user_id, event_id,
                            epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                            event_type
                     FROM events WHERE user_id < 100),
          c AS (SELECT *,
                       CASE WHEN event_type = lag(event_type) OVER w
                            THEN 0 ELSE 1 END AS chg
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
          g AS (SELECT *,
                       sum(chg) OVER (PARTITION BY user_id
                         ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
                         AS grp
                FROM c),
          isl AS (SELECT user_id, grp, event_type,
                         CAST(min(ts_us) AS BIGINT) AS valid_from_us,
                         CAST(count(*) AS BIGINT) AS n_events
                  FROM g GROUP BY user_id, grp, event_type),
          iv AS (SELECT user_id, event_type, valid_from_us, n_events,
                        lead(valid_from_us) OVER (PARTITION BY user_id
                          ORDER BY grp) AS valid_to_us
                 FROM isl)
          SELECT user_id, event_type, valid_from_us, valid_to_us, n_events,
                 valid_to_us IS NULL AS is_current
          FROM iv""",

    "q108_session_window" ->
      """WITH e AS (SELECT event_id, user_id,
                           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                    FROM events),
          l AS (SELECT *, lag(ts_us) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id) AS prev_us FROM e),
          f AS (SELECT *, CASE WHEN prev_us IS NULL
                                 OR ts_us - prev_us >= 1800000000
                               THEN 1 ELSE 0 END AS new_s FROM l),
          g AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
                            ORDER BY ts_us, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid FROM f)
          SELECT user_id,
                 CAST(min(ts_us) AS BIGINT) AS start_us,
                 CAST(max(ts_us) + 1800000000 AS BIGINT) AS end_us,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM g GROUP BY user_id, sid"""
  )
}
