package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A row released by the politeness pacer: the original identity plus
  * the deterministic scheduled release time. */
final case class PacedRow(
    doc_id: String,
    source: String,
    event_time: Timestamp,
    scheduled_time: Timestamp,
    queue_depth: Int)

final case class PaceState(lastScheduledMs: Long)

/**
 * Per-source politeness pacing — the recast of the reference's
 * same-domain fetch delay (reference scrape/scrape.go:699-718: each
 * fetch worker sleeps `FetchDelay × rand[0.5,1.5)` between requests to
 * the same domain; delay default 500 ms, cmd/parse.d/root.go:128-129).
 *
 * Wall-clock sleeps and randomness are non-deterministic and
 * non-resumable, so the recast models pacing as **event-time
 * scheduling in keyed state**: rows shuffle to their `source`
 * partition, are ordered by (event_time, doc_id), and each receives
 * `scheduled_time = max(event_time, prev_scheduled + delay)`. The
 * schedule is a pure function of the input stream, so it survives
 * checkpoint restart and replays identically (north_star: "per-host
 * politeness delays become flatMapGroupsWithState keyed by
 * doc_id/source with event-time watermarks").
 *
 * Skew note (the whole reason this operator is keyed by source): the
 * Zipf-hot source concentrates rows on one state partition. The
 * pacer's per-row work is O(1) and state is O(1) per source, so the
 * hot key costs only its row volume — but if a downstream stage
 * inherited this partitioning it would bottleneck; downstream stages
 * therefore repartition by their own keys (doc_id) or salt
 * (`pmod(hash(doc_id), N)`), per SURVEY §4.
 */
object Pacing {

  /** Delay of a source without its own (the reference's FetchDelay
    * default), and the input watermark delay. */
  private val DelayMs = 500L
  private val WatermarkDelay = "10 minutes"

  /** The pure pacing fold over ONE source's rows, ms domain:
    * `sched_i = max(et_i, sched_{i-1} + delay)` (Lindley recurrence).
    * `sorted` must already be ordered by (event_ms, doc_id); `last0`
    * is the previous slice's final schedule (Long.MinValue = none).
    * Returns the (doc_id, event_ms, sched_ms) rows plus the new fold
    * state. SINGLE DEFINITION shared by the streaming operator
    * ([[update]]) and the batch image
    * (graft.queries.TokenEngine.pacingSchedule), so the DuckDB-checked
    * driver row pins exactly the fold the stream runs. */
  def foldSchedule(
      delay: Long,
      sorted: Seq[(String, Long)],
      last0: Long): (Seq[(String, Long, Long)], Long) = {
    var last = last0
    val out = sorted.map { case (docId, et) =>
      val sched = math.max(et, if (last == Long.MinValue) et else last + delay)
      last = sched
      (docId, et, sched)
    }
    (out, last)
  }

  def update(perSourceDelayMs: Map[String, Long])(
      source: String,
      rows: Iterator[(String, String, Timestamp)],
      state: GroupState[PaceState]): Iterator[PacedRow] = {
    val delay = perSourceDelayMs.getOrElse(source, DelayMs)
    // in-memory bound note: one source's whole micro-batch slice is
    // buffered and sorted here — per-source pacing is inherently
    // serial (the reference's same-domain sleep) and state is O(1),
    // so the hot task's buffer is O(its batch share); bound it at the
    // SOURCE via maxFilesPerTrigger/maxOffsetsPerTrigger, not here.
    val buf = rows.toVector.sortBy(r => (r._3.getTime, r._1))
    val last0 = state.getOption.map(_.lastScheduledMs).getOrElse(Long.MinValue)
    val (folded, last) = foldSchedule(delay, buf.map(r => (r._1, r._3.getTime)), last0)
    // emit the ORIGINAL event Timestamp (folded is aligned with buf):
    // rebuilding it from ms would truncate sub-millisecond precision
    // for callers whose timestamps carry microseconds
    val out = folded.zip(buf).zipWithIndex.map {
      case (((docId, _, sched), orig), i) =>
        PacedRow(docId, source, orig._3, new Timestamp(sched), i)
    }
    state.update(PaceState(last))
    out.iterator
  }

  /** Pace `(doc_id, source, event_time)` rows per source key.
    * `perSourceDelayMs` overrides the default per source — the robots
    * Crawl-delay directive channel ([[RobotsGate.crawlDelays]]);
    * absent sources use `DelayMs` (the reference's FetchDelay
    * fallback, scrape/scrape.go:702-709).
    *
    * Fidelity note (ADVICE r3): the reference RETRIEVES Crawl-delay
    * but never applies it to pacing (fetch/robotstxt.go getCrawlDelay
    * comment — only FetchDelay/RandomizeFetchDelay throttle). Honoring
    * it here is an intentional, more-polite EXTENSION, not parity. */
  def pace(
      rows: Dataset[(String, String, Timestamp)],
      perSourceDelayMs: Map[String, Long] = Map.empty): Dataset[PacedRow] = {
    implicit val outEnc = Encoders.product[PacedRow]
    implicit val stateEnc = Encoders.product[PaceState]
    rows
      .withWatermark("_3", WatermarkDelay)
      .groupByKey(_._2)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(update(perSourceDelayMs))
  }
}
