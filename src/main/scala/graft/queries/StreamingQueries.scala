package graft.queries

import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.sources.Tables
import graft.streaming.{Replay, StreamingPipeline}

/** Structured Streaming surfaced into the oracle gate: each stateful
  * stream runs to completion over the same parquet the oracle reads
  * ([[graft.streaming.Replay.drain]]: file source, `Trigger.AvailableNow`,
  * memory sink, fixture-sized state stores), so a STREAMED windowed
  * aggregation hash-compares against a BATCH DuckDB query — the
  * stream/batch equivalence that makes the Kappa-style reuse of these
  * operators trustworthy. Decimal-backed sums make the equivalence exact:
  * micro-batch boundaries reorder the accumulation, which a double sum
  * would expose.
  */
object StreamingQueries {

  /** Tumbling 1-hour per-type counts computed by a STREAM, verified
    * against the batch oracle (`window(ts, '1 hour').start` is the
    * epoch-aligned hour = `date_trunc('hour', ts)`).
    */
  val streamWindowCounts: QuerySpec = QuerySpec.sql(
    "q56_stream_window_counts",
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) + 1e-9, 2) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin
  ) { (spark, dir) =>
    // complete mode: every window survives to the final table, matching
    // the batch oracle (the watermark only bounds append-mode eviction)
    Replay.drain(spark, dir, "events", "complete") { raw =>
      // event-time must be session-zoned TIMESTAMP for withWatermark —
      // normalize whichever flavor the fixture stores (nanos Long or NTZ)
      StreamingPipeline.windowedCounts(Tables.tsToTimestamp(raw),
        "1 hour", "1 hour")
    }
      .select(col("window_start"), col("event_type"), col("n_events"),
        round(col("sum_value") + lit(1e-9), 2).as("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Native `session_window` (gap-based merging windows) in batch mode,
    * verified against a gaps-and-islands oracle: Spark merges an event
    * into the open session while `ts < prev_end` (= prev ts + gap,
    * STRICT), which is exactly `lag`-diff `< INTERVAL` islanding; the
    * session end is `last ts + gap` in both. This pins the semantics the
    * streaming sessionization operators ([[graft.streaming.Sessionize]],
    * q62/q68's islands) rely on, with the engine-native operator rather
    * than a hand-built window chain — at scale it is one shuffle on
    * user_id with state merged inside the aggregation.
    */
  val sessionWindow: QuerySpec = QuerySpec.sql(
    "q76_session_window",
    """WITH d AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |              < INTERVAL 30 MINUTE
      |         THEN 0 ELSE 1 END AS brk
      |  FROM events),
      |s AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM d)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS n_events,
      |  round(CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) + 1e-9, 2)
      |    AS sum_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin
  ) { (spark, dir) =>
    graft.sources.Tables.load(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(graft.functions.Stable.sumD(col("value")) + lit(1e-9), 2)
          .as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Custom streaming STATE surfaced into the oracle gate:
    * [[graft.streaming.Sessionize]]'s `flatMapGroupsWithState`
    * sessionization runs as a real stream (file source, AvailableNow,
    * append memory sink) and hash-compares against a batch oracle.
    * Streaming semantics are part of the contract the oracle encodes:
    *
    *  - each user's LAST session stays OPEN in state (nothing after it
    *    can close it), so the oracle emits every session except the
    *    per-user max island;
    *  - the delay threshold is set far past the fixture horizon so no
    *    event-time timeout fires — output is micro-batch-count
    *    invariant (sessions close only when a later event proves the
    *    gap elapsed);
    *  - Sessionize merges INCLUSIVELY (`t ≤ last + gap`, vs the native
    *    `session_window`'s strict `<`, pinned by q76) and computes in
    *    epoch MILLIS (`Timestamp.getTime` floors away the micros), so
    *    the oracle islands on `epoch_ms` diffs and rebuilds ms-precision
    *    timestamps.
    *
    * Float-free output (ids, timestamps, counts): state-order effects
    * cannot surface as last-ulp noise.
    */
  val streamSessions: QuerySpec = QuerySpec.sql(
    "q94_stream_sessions",
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) AS tms
      |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
      |d AS (
      |  SELECT user_id, tms,
      |    CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
      |              <= 1800000
      |         THEN 0 ELSE 1 END AS brk
      |  FROM e),
      |s AS (
      |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY tms
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      |  FROM d),
      |g AS (
      |  SELECT user_id, sid,
      |    make_timestamp(min(tms) * 1000) AS start_ts,
      |    make_timestamp(max(tms) * 1000) AS end_ts,
      |    CAST(count(*) AS BIGINT) AS n_events
      |  FROM s GROUP BY user_id, sid)
      |SELECT user_id, start_ts, end_ts, n_events
      |FROM (SELECT *, max(sid) OVER (PARTITION BY user_id) AS last_sid
      |      FROM g)
      |WHERE sid < last_sid
      |ORDER BY user_id, start_ts""".stripMargin
  ) { (spark, dir) =>
    import spark.implicits._
    Replay.drain(spark, dir, "events", "append") { raw =>
      // withWatermark requires session-zoned TIMESTAMP event time
      val ev = Tables.tsToTimestamp(raw)
      graft.streaming.Sessionize.sessionize(
        ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("ts"),
            coalesce(col("value"), lit(0.0)).as("value"))
          .as[graft.streaming.Sessionize.SessionEvent],
        gapSeconds = 1800,
        // park the watermark far before the fixture: no timeout may fire,
        // so emissions are exactly the later-event-closed sessions
        delayThreshold = "3650 days").toDF()
    }
      .select(col("user_id"), col("start_ts"), col("end_ts"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_ts"))
  }

  /** `transformWithState` arbitrary state surfaced into the oracle gate:
    * [[graft.streaming.ClickFunnel]]'s clicks-since-last-purchase
    * measure (per-key `ValueState` in RocksDB, reset on EMISSION — no
    * windowed aggregate expresses it) streamed over the events fixture
    * and hash-compared against a batch rebuild. The oracle assigns each
    * event to its funnel group (`#purchases strictly before it` per
    * user, ordered by `(ts, event_id-as-string)` — exactly the
    * processor's in-batch sort), counts the clicks per group, and
    * emits the group's purchase; trailing clicks with no purchase stay
    * in open state, so groups without one are dropped. Float-free
    * output; the per-user last-open-state rule mirrors q94's.
    */
  val streamFunnel: QuerySpec = QuerySpec.sql(
    "q95_stream_funnel",
    """WITH e AS (
      |  SELECT CAST(user_id AS VARCHAR) AS uid,
      |         CAST(event_id AS VARCHAR) AS eid, ts, event_type
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |    AND event_type IN ('click', 'purchase')),
      |s AS (
      |  SELECT *, CAST(coalesce(count(CASE WHEN event_type = 'purchase'
      |        THEN 1 END) OVER (PARTITION BY uid ORDER BY ts, eid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS grp
      |  FROM e),
      |g AS (
      |  SELECT uid, grp,
      |    max(CASE WHEN event_type = 'purchase' THEN eid END) AS purchase_id,
      |    max(CASE WHEN event_type = 'purchase' THEN ts END) AS pts,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS clicks_before
      |  FROM s GROUP BY uid, grp)
      |SELECT uid AS user_id, purchase_id, pts AS ts, clicks_before
      |FROM g WHERE purchase_id IS NOT NULL
      |ORDER BY user_id, ts, purchase_id""".stripMargin
  ) { (spark, dir) =>
    Replay.drain(spark, dir, "events", "append",
      Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    ) { raw =>
      val ev =
        if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        else raw
      graft.streaming.ClickFunnel(
          ev.filter(col("user_id").isNotNull && col("ts").isNotNull)
            .filter(col("event_type").isin("click", "purchase")))
        .toDF()
    }
      .select(col("user_id"), col("purchase_id"), col("ts"),
        col("clicks_before"))
      .orderBy(col("user_id"), col("ts"), col("purchase_id"))
  }

  val all: Seq[QuerySpec] = Seq(streamWindowCounts, sessionWindow,
    streamSessions, streamFunnel)
}
