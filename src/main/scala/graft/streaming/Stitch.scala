package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.gen.Fragment

/** A fully assembled document emitted by the stitcher — matches the
  * canonical stored-table schema (BASELINE input_hint) plus streaming
  * metadata. */
final case class AssembledDoc(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String,
    event_time: Timestamp,
    n_frags: Int)

/** Stitcher state: fragments keyed by page_idx, stored as two packed
  * little-endian int buffers — `pages` holds (page_idx, length) pairs
  * in insertion order, `tokenBytes` the concatenated tokens. A
  * `Map[Int, Array[Int]]` here encodes through Catalyst's generic map
  * path (boxed keys, per-entry object churn) and dominated ingest-batch
  * state-commit cost. Plain `Array[Int]` fields are no better on the
  * read side: their deserializer is a `MapObjects` loop that boxes
  * every token, and its lambda variable gets a fresh id each time the
  * operator is planned, so every micro-batch compiled a new state
  * deserializer class. `BinaryType` fields read as one byte copy and
  * generate the same code in every batch. Must stay
  * case-class-encodable: `StreamJob` sets no state-store provider, so
  * it ships on Spark's default HDFS-backed store; StreamingSpec's
  * kill-and-resume test also runs it on RocksDB. */
final case class StitchState(
    pages: Array[Byte],
    tokenBytes: Array[Byte],
    source: String,
    maxEventMs: Long) {
  import StitchState.{getInts, intAt, putInts}

  private def nPages: Int = pages.length / 8

  /** Page ids in insertion order. */
  def pageIds: Array[Int] = Array.tabulate(nPages)(i => intAt(pages, 2 * i))

  /** Concatenated tokens in insertion order. */
  def tokens: Array[Int] = {
    val n = tokenBytes.length / 4
    getInts(tokenBytes, 0, new Array[Int](n), 0, n)
  }

  def hasPage(pageIdx: Int): Boolean = {
    var i = 0
    while (i < nPages && intAt(pages, 2 * i) != pageIdx) i += 1
    i < nPages
  }

  def addPage(pageIdx: Int, toks: Array[Int], src: String, eventMs: Long): StitchState =
    if (hasPage(pageIdx)) this // dup page: the first arrival stays
    else StitchState(
      putInts(pages, Array(pageIdx, toks.length)), putInts(tokenBytes, toks),
      src, math.max(maxEventMs, eventMs))

  /** Token stream in ascending page order (insertion order may differ). */
  def assembled: Array[Int] = {
    val lens = Array.tabulate(nPages)(i => intAt(pages, 2 * i + 1))
    val starts = lens.scanLeft(0)(_ + _)
    val out = new Array[Int](tokenBytes.length / 4)
    var pos = 0
    pageIds.zipWithIndex.sortBy(_._1).foreach { case (_, i) =>
      getInts(tokenBytes, starts(i), out, pos, lens(i))
      pos += lens(i)
    }
    out
  }
}

object StitchState {
  val empty: StitchState = StitchState(Array.empty, Array.empty, "", Long.MinValue)

  private def le(b: Array[Byte], offInts: Int, nInts: Int): java.nio.IntBuffer =
    java.nio.ByteBuffer.wrap(b, offInts * 4, nInts * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asIntBuffer()

  private def intAt(b: Array[Byte], i: Int): Int = {
    val o = 4 * i
    (b(o) & 0xff) | (b(o + 1) & 0xff) << 8 | (b(o + 2) & 0xff) << 16 | b(o + 3) << 24
  }

  /** `n` ints of `b` from int offset `from` into `out` at `at`. */
  private def getInts(b: Array[Byte], from: Int, out: Array[Int], at: Int, n: Int): Array[Int] = {
    le(b, from, n).get(out, at, n)
    out
  }

  /** `b` with `ints` appended. */
  private def putInts(b: Array[Byte], ints: Array[Int]): Array[Byte] = {
    val out = java.util.Arrays.copyOf(b, b.length + ints.length * 4)
    le(out, b.length / 4, ints.length).put(ints)
    out
  }
}

/**
 * Fragment assembly — the session-window analog of the reference's
 * paginated multi-request assembly (reference scrape/scrape.go:394-427
 * recursive pagination + the sorted key map scrape.go:138-156 that
 * restores (page, block) order at read-back).
 *
 * A document's fragments `(doc_id, page_idx, tokens)` may arrive
 * out of order and duplicated across micro-batches. We key state by
 * `doc_id` and buffer `page_idx → tokens`; when no new fragment has
 * arrived within `gap` of event time (watermark-driven timeout — the
 * session-window close), we emit the document with fragments
 * concatenated in `page_idx` order, byte-equal to the at-rest table
 * (token-array equality invariant).
 *
 * Exact duplicate fragments collapse naturally (same page_idx, same
 * bytes — the reference's CRC32-keyed idempotent writes,
 * scrape.go:448-457); the first arrival in `(event_time, frag_idx)`
 * order wins, as in [[StreamJob.batchOracle]]. Late fragments beyond
 * the watermark are dropped and counted in
 * StreamingQueryProgress.stateOperators numRowsDroppedByWatermark (the
 * reference records them on the task error list, structure.go:182) by
 * `flatMapGroupsWithState` itself, which filters input rows older than
 * the watermark before [[update]] sees them.
 *
 * Every live fragment passes [[DeadLetter.status]] before it is folded:
 * the first poisoned one (no tokens, a token count that disagrees with
 * `n_tok`, a token outside the vocabulary) fails the query with its
 * doc_id, page_idx and status. Its batch never commits, and a restart
 * replays it and fails again until the input is fixed.
 *
 * Scale: state is per-in-flight-document, O(pages) each; the shuffle
 * into this operator partitions by doc_id (hash — uniformly spread, so
 * no salting needed here; source-keyed skew is handled at the pacing/
 * agg stages). At 10^12 docs the in-flight window, not the table size,
 * bounds state: watermark + timeout evict every closed session.
 */
object Stitch {

  /** Per-group update: merge new fragments, or emit+evict on timeout.
    * Late rows (event_time < watermark) are filtered HERE too, so a
    * session evicted by timeout can never be re-created by a
    * straggler. (With an event-time timeout the operator already drops
    * and counts them before calling this; the filter keeps that
    * guarantee local.) */
  def update(gapMs: Long)(
      docId: String,
      rows: Iterator[Fragment],
      state: GroupState[StitchState]): Iterator[AssembledDoc] = {
    if (state.hasTimedOut) {
      val s = state.get
      val tokens = s.assembled
      val nPages = s.pageIds.length
      state.remove()
      Iterator.single(AssembledDoc(
        docId, tokens, tokens.length, s.source,
        new Timestamp(s.maxEventMs), nPages))
    } else {
      val wm = state.getCurrentWatermarkMs()
      // first arrival wins: fold in (event_time, frag_idx) order, so the
      // earlier copy of a page duplicated within one batch is kept
      val live = rows.filter(_.event_time.getTime >= wm)
        .toArray.sortBy(f => (f.event_time.getTime, f.frag_idx))
      var s = state.getOption.orNull
      live.foreach { f =>
        screen(f)
        val prev = if (s == null) StitchState.empty else s
        s = prev.addPage(f.page_idx, f.tokens, f.source, f.event_time.getTime)
      }
      if (s != null) {
        state.update(s)
        // session close = gap past the newest fragment; must stay
        // ahead of the current watermark or Spark rejects the timestamp
        state.setTimeoutTimestamp(math.max(s.maxEventMs + gapMs, wm + 1))
      }
      Iterator.empty
    }
  }

  private def screen(f: Fragment): Unit = {
    val toks = if (f.tokens == null) null else UnsafeArrayData.fromPrimitiveArray(f.tokens)
    val status = DeadLetter.status(toks, f.n_tok).toString
    if (status != DeadLetter.Ok)
      throw new IllegalArgumentException(
        s"poisoned fragment: doc_id=${f.doc_id} page_idx=${f.page_idx} status=$status")
  }

  /** Frontier dedup and session assembly in ONE stateful operator
    * behind ONE shuffle on doc_id: late-drop and page-level dedup
    * (first arrival wins, [[StitchState.addPage]]) happen inside the
    * stitcher. `watermarkDelay` bounds late-fragment acceptance
    * (reference: no bound — unbounded memory; ours is the north_rule
    * fix); `gapMs` is the session gap closing a document. `fused` is
    * kept for source compatibility and must be `true`. */
  def stitch(
      fragments: Dataset[Fragment],
      watermarkDelay: String = "10 minutes",
      gapMs: Long = 30000L,
      fused: Boolean = true): Dataset[AssembledDoc] = {
    require(fused, "fused = false is not supported: dedup and late-drop run only inside the stitcher")
    implicit val docEnc = Encoders.product[AssembledDoc]
    implicit val stateEnc = Encoders.product[StitchState]
    fragments.withWatermark("event_time", watermarkDelay)
      .groupByKey(_.doc_id)(Encoders.STRING)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update(gapMs))
  }
}
