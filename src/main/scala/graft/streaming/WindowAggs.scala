package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Per-source throughput / extraction-count aggregates over event-time
 * windows — north_star: "Tumbling and sliding windows drive per-source
 * throughput/extraction-count aggregates over the RocksDB state
 * store". The reference has no analog (its only "metrics" are the
 * block counter and error list, scrape/structure.go:182-186); these
 * are the monitoring surface the north_rule adds.
 *
 * A plain Catalyst window aggregation; the streaming form adds a
 * watermark and runs in append mode. The DuckDB-oracle-checked batch
 * rows `q_tumbling`/`q_sliding`/`q_session` do not run this code:
 * they are `Relational.qTumbling`/`qSliding`/`qSessionWindow`.
 *
 * Scale: groupBy(window, source) shuffles on (window, source); the
 * Zipf-hot source is bounded per window by partial (map-side)
 * aggregation — each map task pre-combines its rows, so the reduce-side
 * hot key receives one partial row per map partition, not per input
 * row. On BATCH runs AQE additionally splits residual skew; Spark
 * disables AQE inside stateful streaming queries, so the streaming
 * path relies on partial aggregation alone — sufficient here because
 * the reduce-side row count is bounded by (map partitions × windows),
 * independent of input volume. If a deployment needs more, pre-salt:
 * groupBy(window, source, pmod(hash(doc_id), S)) then re-agg.
 */
object WindowAggs {

  /** Tumbling per-source counts: one row per (window, source). */
  def tumbling(docs: DataFrame, every: String): DataFrame =
    docs
      .groupBy(window(col("event_time"), every).as("w"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col("source"), col("n_docs"), col("total_tokens"))

  /** Streaming form: the tumbling plan with a watermark, append output. */
  def tumblingStream(docs: DataFrame, every: String, delay: String): DataFrame =
    tumbling(docs.withWatermark("event_time", delay), every)
}
