package graft.streaming

/**
 * Per-source politeness pacing — the recast of the reference's
 * same-domain fetch delay (reference scrape/scrape.go:699-718: each
 * fetch worker sleeps `FetchDelay × rand[0.5,1.5)` between requests to
 * the same domain; delay default 500 ms, cmd/parse.d/root.go:128-129).
 *
 * Wall-clock sleeps and randomness are non-deterministic and
 * non-resumable, so the recast models pacing as **event-time
 * scheduling**: a source's rows, ordered by (event_time, doc_id), each
 * receive `scheduled_time = max(event_time, prev_scheduled + delay)`.
 * The schedule is a pure function of the input, so it replays
 * identically.
 *
 * Skew note: keyed by source, the Zipf-hot source concentrates rows on
 * one group. The per-row work is O(1) and the fold state is one long,
 * so the hot key costs only its row volume; a downstream stage that
 * inherited this partitioning would bottleneck, so downstream stages
 * repartition by their own keys (doc_id) or salt
 * (`pmod(hash(doc_id), N)`), per SURVEY §4.
 */
object Pacing {

  /** The pure pacing fold over ONE source's rows, ms domain:
    * `sched_i = max(et_i, sched_{i-1} + delay)` (Lindley recurrence).
    * `sorted` must already be ordered by (event_ms, doc_id); `last0`
    * is the previous slice's final schedule (Long.MinValue = none).
    * Returns the (doc_id, event_ms, sched_ms) rows plus the new fold
    * state. The batch image (graft.queries.TokenEngine.pacingSchedule,
    * the DuckDB-checked driver row) runs it per source. */
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
}
