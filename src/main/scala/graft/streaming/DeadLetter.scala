package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.gen.Fragment
import graft.model.{ExtractionSpec, TokenCodec}
import graft.sink.ResultTable

/**
 * Row-level error taxonomy + dead-letter routing — the recast of the
 * reference's typed error system (reference errs/errors.go:1-141 maps
 * error classes to statuses; scrape/scrape.go:114-132 re-runs a task
 * on a fallback fetcher when nothing parses; structure.go:182 records
 * per-task errors). In a dataflow engine the same concerns become:
 *
 *  - a `status` column computed per row (pure Catalyst predicates —
 *    narrow, codegen'd, zero cost on the happy path);
 *  - malformed rows routed to a QUARANTINE table through the same
 *    exactly-once commit protocol as results, so poisoned input
 *    neither crashes the pipeline nor silently vanishes — it is
 *    replayable once the producer is fixed (the "re-run with the
 *    other fetcher" analog, done offline instead of inline);
 *  - clean rows continue, unaware.
 *
 * Scale: classification is a projection fused into the source scan;
 * the quarantine stream is a second consumer of the source with its
 * own tiny checkpoint — at healthy steady state it shuffles nothing
 * and writes nothing.
 */
object DeadLetter {

  /** Status taxonomy (errs/errors.go analog, input_hint-shaped). */
  val Ok = "ok"
  val EmptyPayload = "empty_payload"        // no tokens at all
  val BadTokenCount = "bad_token_count"     // size(tokens) != n_tok
  val TokenOutOfRange = "token_out_of_range" // token outside [0, VOCAB)

  /** Append a `status` column. Order matters: the first matching rule
    * wins, mirroring the reference's error-class precedence. */
  def classify(df: DataFrame): DataFrame =
    df.withColumn("status",
      when(col("tokens").isNull || size(col("tokens")) === 0, lit(EmptyPayload))
        .when(size(col("tokens")) =!= col("n_tok"), lit(BadTokenCount))
        .when(exists(col("tokens"),
          t => t < lit(0) || t >= lit(TokenCodec.VOCAB)), lit(TokenOutOfRange))
        .otherwise(lit(Ok)))

  /** Clean rows only, status column dropped (the main-pipeline feed). */
  def clean(fragments: Dataset[Fragment]): Dataset[Fragment] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[Fragment]
    classify(fragments.toDF()).filter(col("status") === Ok)
      .drop("status").as[Fragment]
  }

  /** Malformed rows with their status (the quarantine feed). */
  def poisoned(fragments: Dataset[Fragment]): DataFrame =
    classify(fragments.toDF()).filter(col("status") =!= Ok)

  /**
   * Launch the full pipeline with dead-letter routing: the main query
   * (dedup → stitch → extract → result table) consumes only clean
   * rows; a sibling query lands malformed rows in `quarantine` under
   * the same idempotent commit-epoch protocol. Two queries, two
   * checkpoints, one source — each independently resumable (the
   * standard DLQ topology; a single query cannot fork around a
   * stateful operator).
   */
  def runWithQuarantine(
      fragments: Dataset[Fragment],
      spec: ExtractionSpec,
      table: ResultTable,
      quarantine: ResultTable,
      checkpointDir: String,
      quarantineCheckpointDir: String,
      queryId: String,
      watermarkDelay: String,
      sessionGapMs: Long,
      trigger: Trigger): (StreamingQuery, StreamingQuery) = {
    val main = StreamJob.run(clean(fragments), spec, table, checkpointDir,
      queryId, watermarkDelay, sessionGapMs, trigger)
    val dlq = StreamJob.startSink(poisoned(fragments), quarantine, quarantineCheckpointDir,
      s"$queryId-quarantine", trigger)
    (main, dlq)
  }
}
