package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * One-pass token-array kernels backing the extraction-path Catalyst
 * nodes (org.apache.spark.sql.graft.Kernel). The
 * equivalent Catalyst higher-order-function chains (filter(sequence)
 * → transform → slice …) are interpreted and box every element —
 * at 32 concurrent extraction pipelines the allocation rate saturates
 * memory bandwidth and CPU time inflates ~5×. These kernels allocate
 * one primitive array per output element and run inside whole-stage
 * codegen via static calls.
 */
object TokenKernels {

  private def sliceOf(toks: Array[Int], from: Int, until: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOfRange(toks, from, until))

  /** Blocks delimited by `recordStart`: content after each sentinel up
    * to the next (sentinel excluded); tokens before the first sentinel
    * are skipped; no sentinel at all → the whole array is one block
    * (the `<body>` fallback, reference structure.go:139-144). */
  def splitBlocks(arr: ArrayData, recordStart: Int): ArrayData = {
    val toks = arr.toIntArray()
    var n = 0
    var i = 0
    while (i < toks.length) { if (toks(i) == recordStart) n += 1; i += 1 }
    if (n == 0) return new GenericArrayData(Array[Any](sliceOf(toks, 0, toks.length)))
    val out = new Array[Any](n)
    var b = 0
    var start = -1
    i = 0
    while (i < toks.length) {
      if (toks(i) == recordStart) {
        if (start >= 0) { out(b) = sliceOf(toks, start, i); b += 1 }
        start = i + 1
      }
      i += 1
    }
    out(b) = sliceOf(toks, start, toks.length)
    new GenericArrayData(out)
  }

  /** Complete fields of a block: `[tag payload* delim]*` → array of
    * field arrays (tag kept at head, delimiter stripped); a trailing
    * run with no delimiter is dropped — reference fieldsOf contract. */
  def splitFields(arr: ArrayData, delim: Int): ArrayData = {
    val toks = arr.toIntArray()
    var n = 0
    var i = 0
    while (i < toks.length) { if (toks(i) == delim) n += 1; i += 1 }
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    var f = 0
    var start = 0
    i = 0
    while (i < toks.length) {
      if (toks(i) == delim) { out(f) = sliceOf(toks, start, i); f += 1; start = i + 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Payloads (tag stripped) of the fields whose head token equals
    * `tag` — the fused form of the compiler's per-selector
    * filter(fields, head==tag) → transform(slice) interpreted-HOF
    * pair. The match count equals the output length, so the compiler
    * needs only this one column per distinct selector tag. */
  def payloadsForTag(fields: ArrayData, tag: Int): ArrayData = {
    val n = fields.numElements()
    val buf = new java.util.ArrayList[Any](4)
    var i = 0
    while (i < n) {
      val f = fields.getArray(i)
      val m = f.numElements()
      if (m > 0 && f.getInt(0) == tag) {
        val arr = new Array[Int](m - 1)
        var j = 1
        while (j < m) { arr(j - 1) = f.getInt(j); j += 1 }
        buf.add(UnsafeArrayData.fromPrimitiveArray(arr))
      }
      i += 1
    }
    new GenericArrayData(buf.toArray)
  }

  /** Decoded text (decodeJoin) of the first non-empty payload of a
    * `tag` field, blocks and fields in order; "" when there is none. */
  def firstTagText(tokens: ArrayData, recordStart: Int, delim: Int, tag: Int): UTF8String = {
    val blocks = splitBlocks(tokens, recordStart)
    var b = 0
    while (b < blocks.numElements()) {
      val ps = payloadsForTag(splitFields(blocks.getArray(b), delim), tag)
      var i = 0
      while (i < ps.numElements()) {
        if (ps.getArray(i).numElements() > 0) return decodeJoin(ps.getArray(i))
        i += 1
      }
      b += 1
    }
    UTF8String.EMPTY_UTF8
  }

  /** 0-based start offsets of contiguous subsequence `pattern` in
    * `payload` (regex find-all analog; overlapping matches counted). */
  def findAll(payload: ArrayData, pattern: ArrayData): ArrayData = {
    val p = payload.toIntArray()
    val q = pattern.toIntArray()
    if (q.length == 0 || p.length < q.length)
      return UnsafeArrayData.fromPrimitiveArray(Array.empty[Int])
    val hits = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    val last = p.length - q.length
    while (i <= last) {
      var k = 0
      while (k < q.length && p(i + k) == q(k)) k += 1
      if (k == q.length) hits += i
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(hits.toArray)
  }

  /** Filter-chain ops packed 3 bits each, applied LSB-first:
    * 1=trim 2=lower 3=upper 4=capitalize (Spark initcap semantics:
    * lowercase then title-case — UTF8String.toTitleCase). */
  def applyOps(s0: UTF8String, ops: Int): UTF8String = {
    var s = s0
    var o = ops
    while (o != 0) {
      (o & 7) match {
        case 1 => s = s.trim()
        case 2 => s = s.toLowerCase
        case 3 => s = s.toUpperCase
        case 4 => s = s.toLowerCase.toTitleCase
        case _ => ()
      }
      o >>>= 3
    }
    s
  }

  /** Decoded text (decodeJoin) + filter chain for EVERY payload — the
    * Text part column in one codegen call (the per-payload
    * transform(...) lambda was interpreted). */
  def decodeAll(payloads: ArrayData, ops: Int): ArrayData = {
    val n = payloads.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = applyOps(decodeJoin(payloads.getArray(i)), ops)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** findAll positions per payload, flattened in payload order — the
    * TokenPattern part column in one call (was flatten∘transform). */
  def findAllFlat(payloads: ArrayData, pattern: ArrayData): ArrayData = {
    val hits = scala.collection.mutable.ArrayBuffer.empty[Int]
    val n = payloads.numElements()
    var i = 0
    while (i < n) {
      val pos = findAll(payloads.getArray(i), pattern)
      var j = 0
      val m = pos.numElements()
      while (j < m) { hits += pos.getInt(j); j += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(hits.toArray)
  }

  /** Decimal render of nested int payloads: tokens space-joined within
    * a payload, payloads '|'-joined — the driver-facing scalar image
    * of an array<array<int>> column in one call (was a nested
    * interpreted transform with a per-token cast). */
  def intJoinAll(payloads: ArrayData): UTF8String = {
    val sb = new java.lang.StringBuilder(64)
    val n = payloads.numElements()
    var i = 0
    while (i < n) {
      if (i > 0) sb.append('|')
      val p = payloads.getArray(i)
      val m = p.numElements()
      var j = 0
      while (j < m) {
        if (j > 0) sb.append(' ')
        sb.append(p.getInt(j))
        j += 1
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Base-36 uppercase decode of each token, space-joined — the
    * shared "text of a payload" recipe (TokenCodec.decodeToken). */
  def decodeJoin(payload: ArrayData): UTF8String = {
    val toks = payload.toIntArray()
    val sb = new java.lang.StringBuilder(toks.length * 4)
    var i = 0
    while (i < toks.length) {
      if (i > 0) sb.append(' ')
      sb.append(java.lang.Long.toString(toks(i).toLong, 36).toUpperCase)
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
