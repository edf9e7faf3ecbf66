package graft
package registry

import org.apache.spark.sql.functions._

import graft.functions.Temporal
import graft.operators._

/** Batch forms of the streaming operators and the contract gates. */
object StreamingQueries {
  import Shared._

  /** Events feed contract (the ViajesTripRow pattern, contracts.py:
    * 47-109): required ids/timestamps, enum-checked normalized code,
    * optional bounded measure, at-least-one payload cross rule.
    */
  private def eventsContract: (Seq[RowContract.Field], Seq[RowContract.Cross]) = (
    Seq(
      RowContract.required("user_id", "MISSING_ID"),
      RowContract.upperEnum("event_type",
        Seq("CLICK", "SIGNUP", "ERROR", "VIEW", "PURCHASE"),
        badReason = "BAD_TYPE", missingReason = Some("MISSING_TYPE")),
      RowContract.required("ts", "MISSING_TIMESTAMP"),
      RowContract.optionalRange("value", 0, 450, "BAD_RANGE_VALUE")),
    Seq(RowContract.atLeastOneOf("EMPTY_PAYLOAD", Seq("value", "props"))))

  /** Shared by sessionize_gap and its session_window twin — the two
    * operators must agree row for row, so they share one oracle.
    */
  private val sessionizeOracleSql =
    """WITH marked AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag_ms IS NULL OR ms - lag_ms > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM (
      |    SELECT user_id, ts, event_id, value,
      |      epoch_ms(ts) AS ms,
      |      LAG(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS lag_ms
      |    FROM events)),
      |sess AS (
      |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM marked)
      |SELECT user_id, session_seq,
      |  MIN(ts) AS session_start, MAX(ts) AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
      |FROM sess GROUP BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // Cut-replacement load (cleanup_cut.sql): a stale half-load of the
    // lake, with the final week's cuts fully rebuilt and swapped in —
    // untouched cuts keep their stale rows, replaced cuts carry
    // exactly the incoming batch.
    QueryDef("gold_cut_replace", (s, d) => {
      val cleansed = cleanseEvents(s, d)
      val stale = cleansed.filter(col("event_id") % 2 === 0)
      val incoming = cleansed.filter(col("date_sk") >= 20240122)
      Merge.replaceCut(stale, incoming, "date_sk")
    },
      Oracle(s"""WITH c AS (${cleanseEventsSql("")}),
         |stale AS (SELECT * FROM c WHERE event_id % 2 = 0),
         |inc AS (SELECT * FROM c WHERE date_sk >= 20240122)
         |SELECT * FROM stale s
         |WHERE NOT EXISTS (SELECT 1 FROM inc i WHERE i.date_sk = s.date_sk)
         |UNION ALL
         |SELECT * FROM inc""".stripMargin)),

    QueryDef("stream_events_30m", (s, d) =>
      t(s, d, "events").groupBy(
          Temporal.windowStart(col("ts"), 1800).as("window_start"),
          upper(trim(col("event_type"))).as("event_type_norm"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double").as("value_sum")),
      Oracle("""SELECT make_timestamp(CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) * 1800 * 1000000) AS window_start,
        |  UPPER(TRIM(event_type)) AS event_type_norm,
        |  COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // Sliding-window aggregation (1h window / 30m slide — each event
    // lands in exactly 2 windows) through Spark's built-in window()
    // generator: the overlap expansion happens inside codegen, the
    // aggregate stays map-side partial, and the SAME expression runs
    // streaming under a watermark (StreamOps.eventsSliding).
    QueryDef("stream_events_sliding", (s, d) =>
      t(s, d, "events").filter(col("ts").isNotNull)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
          upper(trim(col("event_type"))).as("event_type_norm"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double").as("value_sum"))
        .select(col("w").getField("start").as("window_start"),
          col("event_type_norm"), col("n_events"), col("value_sum")),
      // An event at t belongs to the two slide-aligned starts
      // {floor30(t), floor30(t) - 30m}: start <= t < start + 1h.
      Oracle("""WITH e AS (
        |  SELECT UPPER(TRIM(event_type)) AS event_type_norm, value,
        |    make_timestamp(CAST(FLOOR(epoch(ts) / 1800) AS BIGINT)
        |                   * 1800 * 1000000) AS s0
        |  FROM events WHERE ts IS NOT NULL),
        |x AS (
        |  SELECT UNNEST([s0, s0 - INTERVAL 30 MINUTE]) AS window_start,
        |    event_type_norm, value
        |  FROM e)
        |SELECT window_start, event_type_norm, COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0)
        |       AS DOUBLE) AS value_sum
        |FROM x GROUP BY 1, 2""".stripMargin)),

    QueryDef("sessionize_gap", (s, d) =>
      Sessionize.byGap(t(s, d, "events"), "user_id", "ts", "event_id", "value", gapSec = 1800),
      Oracle(sessionizeOracleSql)),

    // One-row session KPI panel over the gap sessions: counts, exact
    // duration percentiles, bounce rate, value per session.
    QueryDef("ana_session_stats", (s, d) =>
      AnalyticsPack.sessionStats(
        Sessionize.byGap(t(s, d, "events"), "user_id", "ts", "event_id",
          "value", gapSec = 1800),
        "user_id"),
      // Session-KPI replay over the same sessionizer CTE: exact counts,
      // quantile_cont percentiles, decimal value sums, one division each.
      Oracle(s"""WITH sess AS MATERIALIZED ($sessionizeOracleSql)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |  quantile_cont(epoch_ms(session_end) - epoch_ms(session_start), 0.5) AS p50_duration_ms,
         |  quantile_cont(epoch_ms(session_end) - epoch_ms(session_start), 0.9) AS p90_duration_ms,
         |  CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS avg_events,
         |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS bounce_rate,
         |  CAST(SUM(CAST(value_sum AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
         |FROM sess""".stripMargin)),

    // Sweep-line peak concurrency over the gap sessions: the busiest
    // instant's open-session count — capacity planning over the
    // session table. Distributed prefix sum, codegen sweep expansion.
    QueryDef("ana_peak_concurrency", (s, d) =>
      AnalyticsPack.peakConcurrency(
        Sessionize.byGap(t(s, d, "events"), "user_id", "ts", "event_id",
          "value", gapSec = 1800),
        "session_start", "session_end", Seq("user_id", "session_seq")),
      // Sweep replay: starts before ends at a shared instant (delta
      // DESC), total order closed by (user_id, session_seq), running
      // sum over exact longs, struct-argmax with earliest-instant ties.
      Oracle(s"""WITH sess AS MATERIALIZED ($sessionizeOracleSql),
         |sw AS (
         |  SELECT session_start AS ts, CAST(1 AS BIGINT) AS delta, user_id, session_seq FROM sess
         |  UNION ALL
         |  SELECT session_end, CAST(-1 AS BIGINT), user_id, session_seq FROM sess),
         |c AS (
         |  SELECT ts,
         |    SUM(delta) OVER (ORDER BY ts, delta DESC, user_id, session_seq
         |      ROWS UNBOUNDED PRECEDING) AS run
         |  FROM sw)
         |SELECT CAST(MAX({'p': run, 'negts': -epoch_ms(ts)}).p AS BIGINT) AS peak_concurrency,
         |  make_timestamp(-MAX({'p': run, 'negts': -epoch_ms(ts)}).negts * 1000) AS at_ts,
         |  CAST((SELECT COUNT(*) FROM sw) / 2 AS BIGINT) AS n_intervals
         |FROM c""".stripMargin)),

    QueryDef("quality_threshold_gate", (s, d) =>
      QualityGate.thresholdGate(cleanseEvents(s, d), eventRules,
        warnRate = 0.00001, failRate = 0.01),
      Oracle(s"""SELECT reason_code, n_rows,
         |  n_rows / SUM(n_rows) OVER () AS rate,
         |  CASE WHEN reason_code = 'VALID' THEN 'OK'
         |       WHEN n_rows / SUM(n_rows) OVER () >= 0.01 THEN 'FAIL'
         |       WHEN n_rows / SUM(n_rows) OVER () >= 0.00001 THEN 'WARN'
         |       ELSE 'OK' END AS status
         |FROM (SELECT COALESCE(reason_code, 'VALID') AS reason_code, COUNT(*) AS n_rows
         |      FROM (${qualityAnnotatedSql()}) GROUP BY 1)""".stripMargin)),

    // Typed row contract over the RAW feed: per-field normalize (upper
    // -or-none) then validate, first-match reason codes, cross-field
    // at-least-one — the reference's Pydantic chain (contracts.py:
    // 47-297) as one codegen'd scan over every row.
    QueryDef("contract_gate_events", (s, d) => {
      val (fields, cross) = eventsContract
      RowContract.annotate(t(s, d, "events"), fields, cross)
    },
      Oracle("""WITH norm AS (
        |  SELECT event_id, ts, user_id,
        |    NULLIF(UPPER(TRIM(event_type)), '') AS event_type,
        |    value, props
        |  FROM events)
        |SELECT *,
        |  CASE WHEN user_id IS NULL THEN 'MISSING_ID'
        |       WHEN event_type IS NULL THEN 'MISSING_TYPE'
        |       WHEN event_type NOT IN ('CLICK','SIGNUP','ERROR','VIEW','PURCHASE') THEN 'BAD_TYPE'
        |       WHEN ts IS NULL THEN 'MISSING_TIMESTAMP'
        |       WHEN NOT COALESCE(value IS NULL OR value BETWEEN 0 AND 450, FALSE) THEN 'BAD_RANGE_VALUE'
        |       WHEN value IS NULL AND props IS NULL THEN 'EMPTY_PAYLOAD'
        |       ELSE NULL END AS reason_code
        |FROM norm""".stripMargin)),

    // Sampled contract pre-flight: the same contract over a bounded
    // DETERMINISTIC 2000-row sample (lowest md5(event_id) — a pure
    // function of the data, reproducible across engines/layouts; the
    // reference validates `validation_sample_size` rows through
    // Pydantic before the full pass, transforms.py:214-279). The
    // rank-take runs as TakeOrdered — no global sort.
    QueryDef("contract_sample_gate", (s, d) => {
      val (fields, cross) = eventsContract
      RowContract.sampleGate(t(s, d, "events"), fields, cross,
        keyCols = Seq("event_id"), n = 2000, warnRate = 0.00001, failRate = 0.01)
    },
      Oracle("""WITH s AS (
        |  SELECT * FROM events
        |  ORDER BY md5(COALESCE(CAST(event_id AS VARCHAR), '<NULL>')) LIMIT 2000),
        |norm AS (
        |  SELECT event_id, ts, user_id,
        |    NULLIF(UPPER(TRIM(event_type)), '') AS event_type,
        |    value, props
        |  FROM s),
        |ann AS (
        |  SELECT CASE WHEN user_id IS NULL THEN 'MISSING_ID'
        |       WHEN event_type IS NULL THEN 'MISSING_TYPE'
        |       WHEN event_type NOT IN ('CLICK','SIGNUP','ERROR','VIEW','PURCHASE') THEN 'BAD_TYPE'
        |       WHEN ts IS NULL THEN 'MISSING_TIMESTAMP'
        |       WHEN NOT COALESCE(value IS NULL OR value BETWEEN 0 AND 450, FALSE) THEN 'BAD_RANGE_VALUE'
        |       WHEN value IS NULL AND props IS NULL THEN 'EMPTY_PAYLOAD'
        |       ELSE NULL END AS reason_code
        |  FROM norm)
        |SELECT reason_code, n_rows,
        |  n_rows / SUM(n_rows) OVER () AS rate,
        |  CASE WHEN reason_code = 'VALID' THEN 'OK'
        |       WHEN n_rows / SUM(n_rows) OVER () >= 0.01 THEN 'FAIL'
        |       WHEN n_rows / SUM(n_rows) OVER () >= 0.00001 THEN 'WARN'
        |       ELSE 'OK' END AS status
        |FROM (SELECT COALESCE(reason_code, 'VALID') AS reason_code, COUNT(*) AS n_rows
        |      FROM ann GROUP BY 1)""".stripMargin)),

    // Built-in session_window twin of sessionize_gap: identical
    // sessions with zero window-function passes (MergingSessionsExec),
    // batch and streaming alike — shares the sessionize oracle.
    QueryDef("sessionize_window", (s, d) =>
      Sessionize.byGapBuiltin(t(s, d, "events"), "user_id", "ts", "event_id", "value",
        gapSec = 1800),
      Oracle(sessionizeOracleSql)),

    // Batch twin of streaming first-delivery-wins dedup
    // (StreamOps.dedupStream): earliest row per key in event-time order.
    QueryDef("stream_dedup_events", (s, d) =>
      Dedup.firstByGrain(t(s, d, "events"),
        grain = Seq("user_id", "event_type"), order = Seq("ts", "event_id")),
      Oracle("""SELECT event_id, ts, user_id, event_type, value, props FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin))
  )
}
