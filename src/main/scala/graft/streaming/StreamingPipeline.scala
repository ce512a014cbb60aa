package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Upsert}
import graft.sources.Tables

/** Structured Streaming re-expression of the reference's watermark-batch
  * CDC semantics (SURVEY.md §2j — an extension beyond parity: the
  * reference's "incremental" is a watermark *table*, not a stream).
  *
  * Three composable stages over a streaming frame with the `events`
  * fixture schema (`event_id, ts, user_id, event_type, value`):
  *
  *  - [[dedupStream]]   — the reference's W1 dedup-keep-one as streaming
  *    state: event-time watermark + `dropDuplicates` on the key, so late
  *    duplicates inside the watermark are suppressed and state is GC'd
  *    past it. At scale, state is hash-partitioned by key across
  *    executors (RocksDB/HDFS state store on a real cluster).
  *  - [[windowedCounts]] — tumbling event-time window aggregation with
  *    watermark-bounded state (the gold daily-rollup shape, A3).
  *  - [[upsertSink]]    — the reference's MERGE (S7) as a `foreachBatch`
  *    sink: each micro-batch anti-join-upserts into a parquet target,
  *    exactly the batch operator reused ([[graft.operators.Upsert]]).
  */
object StreamingPipeline {

  /** Watermarked keep-one-per-key dedup. `delayThreshold` bounds how
    * late a duplicate may arrive and still be suppressed.
    */
  def dedupStream(events: DataFrame, delayThreshold: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delayThreshold)
      // WithinWatermark variant: plain dropDuplicates(event_id) keys state
      // by event_id alone and never evicts it (the watermark only bounds
      // state when the event-time column is part of the key) — unbounded
      // state at stream scale. This keeps each key only until the
      // watermark passes its expiration.
      .dropDuplicatesWithinWatermark("event_id")

  /** Tumbling-window per-type counts with watermark-bounded state. */
  def windowedCounts(events: DataFrame,
      windowLength: String = "1 hour",
      delayThreshold: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delayThreshold)
      .groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // exact decimal-backed sum: micro-batch boundaries change the
        // accumulation order, so a double sum would differ between a
        // streamed and a batch run of the same data (Stable rationale)
        graft.functions.Stable.sumD(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join — the streaming twin of the batch
    * bin-bucketed interval join (q61): purchases matched to the same
    * user's clicks in the trailing `joinWindow`. Watermarks on BOTH
    * inputs plus the two-sided time-range condition let Spark derive
    * state-eviction bounds for each side (a click older than
    * `watermark + joinWindow` can never match a future purchase, so its
    * state is dropped) — without them, stream-stream join state grows
    * forever. Output columns: (p_id, user_id, p_ts, c_ts, c_value).
    */
  def clickIntervalJoin(purchases: DataFrame, clicks: DataFrame,
      joinWindow: String = "30 minutes",
      delayThreshold: String = "1 hour"): DataFrame = {
    val p = purchases.withWatermark("ts", delayThreshold)
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", delayThreshold)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
    p.join(c,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $joinWindow") &&
          col("c_ts") < col("p_ts"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_ts"),
        col("c_value"))
  }

  /** Stream-static enrichment join: the streaming twin of the silver
    * layer's dim join (J1/J2). The static side carries no streaming
    * state at all — unlike stream-stream joins there is nothing to
    * watermark, because the static side is complete by definition.
    * Spark broadcasts the dim when it fits
    * `autoBroadcastJoinThreshold`, which a dimension table should; at
    * 100 TB of stream this stays a map-side join, the only shape that
    * survives unbounded input. Left join preserves events with no dim
    * match (the OTHER-region fallback semantics).
    *
    * Dim refresh caveat: the static side's FILE LISTING is pinned when
    * the query starts, so refreshing the dim with an in-place
    * [[Tables.overwrite]] deletes files a live micro-batch may still
    * read → `FAILED_READ_FILE.FILE_NOT_EXIST`. Publish dims through
    * [[graft.sources.Snapshots]] instead: a refresh writes a NEW
    * immutable version directory, the running query keeps serving its
    * pinned version, and a restart (or a foreachBatch re-read of
    * `Snapshots.read`) picks up the new one — spec-asserted in
    * `StreamingPipelineSpec`.
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
      joinKey: String = "event_type"): DataFrame =
    events.join(broadcast(dim), Seq(joinKey), "left")

  /** foreachBatch MERGE-upsert into a parquet path keyed by `keys` —
    * the streaming twin of the silver-layer upsert, through the same
    * [[Upsert.upsertInto]]. Each batch is deduplicated to one row per
    * key first ([[graft.operators.Dedup.keepLatest]] on `orderCol`),
    * matching Delta MERGE's unique-source requirement.
    */
  def upsertSink(stream: DataFrame, targetPath: String, keys: Seq[String],
      orderCol: String = "ts"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      Upsert.upsertInto(Dedup.keepLatest(batch, keys, orderCol),
        targetPath, keys)
      ()
    }
}
