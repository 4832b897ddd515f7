package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One request-shaped event on the session stream: a row keyed by
  * `user_token` that may carry new cookies to persist (the response's
  * Set-Cookie analog), as `"name=value"` strings. */
final case class CookieEvent(
    user_token: String,
    doc_id: String,
    event_time: Timestamp,
    set_cookies: Array[String])

/** The event enriched with the jar contents hydrated BEFORE this
  * event's own cookies are merged — exactly the reference's order:
  * load jar → fetch → persist mutated jar (fetch/service.go:36-106). */
final case class HydratedEvent(
    user_token: String,
    doc_id: String,
    event_time: Timestamp,
    jar: Array[String])

/** Jar state: flat sorted "name=value" strings (a Map here would
  * encode through Catalyst's generic map path and dominate state
  * commits — same lesson as StitchState's flat arrays). */
final case class JarState(cookies: Array[String], lastEventMs: Long)

/**
 * Cookie/session continuity as a first-class keyed-state operator —
 * the recast of the reference's per-UserToken cookie jar
 * (fetch/service.go:36-106: hydrate jar from storage before the
 * fetch, persist the mutated jar after; storage type `Cookies`,
 * storage/storage.go:19-23, with TTL expiry `ITEM_EXPIRE_IN`,
 * diskv.go:49-81).
 *
 * `flatMapGroupsWithState` keyed by `user_token`: each event is
 * emitted with the jar as hydrated before its own `set_cookies`
 * merge; the merge then persists for subsequent events. An idle
 * session past `ttlMs` of event time is evicted (the storage TTL),
 * so a later event starts with an empty jar.
 *
 * Scale: state is O(cookies) per live session, evicted by event-time
 * timeout; the only shuffle keys by user_token (uniform). Batch
 * iterators are sorted by event time before folding, so out-of-order
 * arrival within a micro-batch cannot leak a later cookie into an
 * earlier event's jar.
 */
object SessionJar {

  private[streaming] def merge(jar: Array[String], set: Array[String]): Array[String] = {
    if (set == null || set.isEmpty) jar
    else {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
      (jar ++ set).foreach { kv =>
        val i = kv.indexOf('=')
        if (i > 0) m.put(kv.substring(0, i), kv)
      }
      m.values.toArray
    }
  }

  /** The semantics, shared by the streaming operator ([[hydrate]])
    * AND the batch image (graft.queries.TokenEngine.sessionJarFold —
    * the DuckDB-checked driver row): fold one batch's events (sorted into
    * event-time order so out-of-order arrival within a micro-batch
    * cannot leak a later cookie into an earlier event's jar) over the
    * jar state; TTL can also lapse BETWEEN events inside one batch
    * window. */
  private[graft] def foldEvents(
      token: String,
      rows: Iterator[CookieEvent],
      init: JarState,
      ttlMs: Long): (Array[HydratedEvent], JarState) = {
    val ordered = rows.toArray.sortBy(e => (e.event_time.getTime, e.doc_id))
    var s = init
    val out = ordered.map { e =>
      val live =
        if (s.lastEventMs != Long.MinValue &&
          e.event_time.getTime - s.lastEventMs > ttlMs) JarState(Array.empty, s.lastEventMs)
        else s
      val hydrated = HydratedEvent(token, e.doc_id, e.event_time, live.cookies)
      s = JarState(merge(live.cookies, e.set_cookies), e.event_time.getTime)
      hydrated
    }
    (out, s)
  }

  private def update(ttlMs: Long)(
      token: String,
      rows: Iterator[CookieEvent],
      state: GroupState[JarState]): Iterator[HydratedEvent] = {
    if (state.hasTimedOut) {
      state.remove() // TTL expiry — the diskv Expired() analog
      Iterator.empty
    } else {
      val (out, s) = foldEvents(token, rows,
        state.getOption.getOrElse(JarState(Array.empty, Long.MinValue)), ttlMs)
      state.update(s)
      state.setTimeoutTimestamp(
        math.max(s.lastEventMs + ttlMs, state.getCurrentWatermarkMs() + 1))
      out.iterator
    }
  }

  /** The operator: session-hydrated events, watermark-bounded state.
    * The reference's default TTL is ITEM_EXPIRE_IN = 86400 s. */
  def hydrate(
      events: Dataset[CookieEvent],
      ttlMs: Long,
      watermarkDelay: String): Dataset[HydratedEvent] = {
    implicit val outEnc = Encoders.product[HydratedEvent]
    implicit val stEnc = Encoders.product[JarState]
    events
      .withWatermark("event_time", watermarkDelay)
      .groupByKey(_.user_token)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update(ttlMs))
  }
}
