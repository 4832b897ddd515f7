package graft.streaming

import java.sql.Timestamp

/** One request-shaped event of a session: a row keyed by
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

/** Fold state of one token's jar: its "name=value" cookies in
  * first-insertion order, and the time of its last event
  * (Long.MinValue = none yet). */
final case class JarState(cookies: Array[String], lastEventMs: Long)

/**
 * Cookie/session continuity as a per-token fold —
 * the recast of the reference's per-UserToken cookie jar
 * (fetch/service.go:36-106: hydrate jar from storage before the
 * fetch, persist the mutated jar after; storage type `Cookies`,
 * storage/storage.go:19-23, with TTL expiry `ITEM_EXPIRE_IN`,
 * diskv.go:49-81).
 *
 * A fold per `user_token` ([[foldEvents]]): each event is emitted
 * with the jar as hydrated before its own `set_cookies` merge; the
 * merge then persists for subsequent events. A session idle past
 * `ttlMs` of event time is emptied (the storage TTL), so a later event
 * starts with an empty jar.
 *
 * Scale: the fold state is O(cookies) per session; the only shuffle
 * keys by user_token (uniform).
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

  /** Fold one slice of a token's events over the jar state `init`,
    * returning the hydrated events and the state a next slice starts
    * from. Events are sorted into event-time order first, so
    * out-of-order arrival cannot leak a later cookie into an earlier
    * event's jar; the TTL can lapse between any two events. The batch
    * image (graft.queries.TokenEngine.sessionJarFold, the
    * DuckDB-checked driver row) runs it per token. */
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
}
