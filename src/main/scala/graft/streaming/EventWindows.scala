package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Watermarked event-time windowed aggregation — the Structured Streaming
 * twin of the batch `q9_events_hourly` report, and the one streaming
 * idiom the vector family doesn't exercise (VectorStreamJob/StreamDedup
 * are flatMapGroupsWithState operators; this is the declarative
 * watermark + window + append-mode path, where Spark itself owns state
 * eviction).
 *
 * Contract: tumbling windows over the event-time column, grouped with a
 * key; the watermark bounds both state size AND result finality — a
 * window only emits (append mode) once the watermark passes its end, so
 * every emitted row is immutable (the exactly-once-per-window property a
 * downstream consumer relies on). Late rows beyond the watermark are
 * dropped, matching the documented Spark semantics.
 *
 * Scale shape: one hash exchange on (window, key) with partial
 * aggregation map-side; state per open window-key pair only — at any
 * corpus rate the state is bounded by (windows inside the watermark
 * horizon) x keys, never by event volume. Reference context: the
 * reference's Flink frontend drives windowless keyed operators
 * (its reports are per-query completions); windowed rollups are part of
 * the beyond-reference analytics surface (`q9`/`q18`), here given their
 * streaming form.
 */
object EventWindows {

  /** Tumbling hourly counts/sums per event_type over a streaming frame
   * with event-time column `ts` (timestamp). `lateness` is the
   * watermark delay. Works on any streaming DataFrame with
   * (ts TIMESTAMP, event_type STRING, value DOUBLE). */
  def hourly(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** The batch twin on the same frame — the spec's oracle: a completed
   * stream (watermark advanced past every window) must equal the batch
   * aggregation row-for-row. */
  def hourlyBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Stream-static enrichment — the most common production streaming
   * join: each micro-batch of events joins a STATIC dimension frame
   * (here keyed on `event_type`). The static side is explicitly
   * broadcast: stateless, no watermark needed, per-batch cost is one
   * hash probe per event row — the dimension never shuffles the stream
   * and the join adds no streaming state at all (contrast the
   * stream-stream case, which must buffer both sides). At cluster
   * scale the dimension rides the broadcast, the stream stays in its
   * source partitioning. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"), "left")
}
