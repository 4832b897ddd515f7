package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/**
 * Static kernels shared by interpreted eval and generated code. The
 * Catalyst nodes (org.apache.spark.sql.graft.Kernel) call them through
 * `StaticInvoke`, a single static call in generated code, so they stay
 * inside whole-stage codegen (no CodegenFallback, no interpreted HOF chain)
 * — the "custom Catalyst `Expression` beats a Scala UDF" path of
 * SURVEY §7.3 for the two genuinely hot scalar kernels of the
 * training-data pipeline (similarity search and simhash dedup).
 */
object VectorKernels {

  /** Element `i` of a float or double vector, widened to double. */
  private def at(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i) else v.getDouble(i)

  /** Cosine similarity of two float or double vectors, accumulated in
    * double. 0.0 for zero-norm inputs (instead of NaN) so thresholds
    * compose. */
  def cosine(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = at(a, i, aFloat); val y = at(b, i, bFloat)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Hyperplane-LSH bucket id: bit p of the result is 1 iff
    * dot(v, planes(p)) >= 0. Sign of the dot equals sign of the
    * cosine (norms are positive), so this matches thresholding
    * cosineSim at 0 while skipping both norm computations — and all
    * planes of one table fold into a single pass over the vector. */
  def hyperBucket(v: ArrayData, planes: Array[Array[Double]], isFloat: Boolean): Long = {
    var bucket = 0L
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      val n = math.min(v.numElements(), pl.length)
      var dot = 0.0
      var i = 0
      while (i < n) { dot += at(v, i, isFloat) * pl(i); i += 1 }
      if (dot >= 0.0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Top-`nProbe` centroid indices by cosine similarity, descending
    * (ties → lower index), in one fused pass — the IVF coarse
    * quantizer's probe list. nProbe=1 gives the assignment cell. */
  def probeCells(v: ArrayData, cents: Array[Array[Double]], nProbe: Int,
      isFloat: Boolean): ArrayData = {
    val m = v.numElements()
    var nx = 0.0
    var xi = 0
    while (xi < m) { val x = at(v, xi, isFloat); nx += x * x; xi += 1 }
    val k = cents.length
    val cos = new Array[Double](k)
    var c = 0
    while (c < k) {
      val ct = cents(c)
      val n = math.min(m, ct.length)
      var dot = 0.0; var nc = 0.0
      var i = 0
      while (i < n) { dot += at(v, i, isFloat) * ct(i); nc += ct(i) * ct(i); i += 1 }
      cos(c) = if (nx == 0.0 || nc == 0.0) 0.0 else dot / math.sqrt(nx * nc)
      c += 1
    }
    // selection in (-cos, index) order, not a sort of boxed tuples:
    // ivfCentroids calls this per sample vector and Lloyd iteration
    val order = new Array[Int](math.max(0, math.min(nProbe, k)))
    val taken = new Array[Boolean](k)
    var p = 0
    while (p < order.length) {
      var best = -1
      c = 0
      while (c < k) {
        if (!taken(c) && (best < 0 || java.lang.Double.compare(-cos(c), -cos(best)) < 0)) best = c
        c += 1
      }
      taken(best) = true
      order(p) = best
      p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(order)
  }

  private val Space = UTF8String.fromString(" ")

  /** Every n-word gram of `words`, space-joined, in order; none when
    * there are fewer than n words. */
  private def grams(words: ArrayData, n: Int): Array[UTF8String] =
    Array.tabulate(math.max(words.numElements() - n + 1, 0)) { i =>
      UTF8String.concatWs(Space, Array.tabulate(n)(j => words.getUTF8String(i + j)): _*)
    }

  /** Distinct n-word shingles in first-occurrence order — one pass,
    * matching array_distinct(transform(sequence..., concat_ws)) and
    * the DuckDB oracle's list_distinct(list_transform(...)) exactly.
    * words shorter than n → empty set. */
  def shingleSet(words: ArrayData, n: Int): ArrayData = {
    val seen = new java.util.LinkedHashSet[UTF8String]()
    grams(words, n).foreach(seen.add)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(new Array[AnyRef](seen.size())))
  }

  /** MinHash signature in one pass: per shingle, h = pmod(xxhash64(s),
    * p) (Spark's XXH64, seed 42 — byte-identical to the SQL function);
    * sig(j) = min over shingles of pmod(a(j)*h + b(j), p). Replaces a
    * k× interpreted higher-order transform per row (the dominant
    * minhash cost: docs × shingles × k expression-tree evals).
    * All intermediates < 2^62 (a, b, h < p = 2^31-1): no overflow. */
  def minhashSig(sh: ArrayData, a: Array[Long], b: Array[Long], p: Long): ArrayData = {
    val k = a.length
    val out = Array.fill(k)(Long.MaxValue)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val s = sh.getUTF8String(i)
      val raw = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      val h = ((raw % p) + p) % p
      var j = 0
      while (j < k) {
        val v = (a(j) * h + b(j)) % p
        if (v < out(j)) out(j) = v
        j += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** xxhash64 (seed 42 — byte-identical to SQL `xxhash64` over the
    * `concat_ws(" ", ...)` gram string) of every n-word gram, in
    * order. One pass; replaces an interpreted transform(sequence) →
    * concat_ws → xxhash64 chain. */
  def gramHashes(words: ArrayData, n: Int): ArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(
      grams(words, n).map(g => org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L)))

  /** Winnowing selection: sorted distinct minima of every length-
    * `window` sliding window over the hash stream (whole stream if
    * shorter than one window). Monotonic-deque sliding min — O(n) —
    * replacing a per-position slice+array_min lambda whose embedded
    * gram-hash subtree re-evaluated per window position (O(n²) with
    * interpreted-HOF constants: the round-2 bench measured 643 s at
    * sf0.1 once column pruning stopped hiding it). */
  def winnowSelect(hashes: ArrayData, window: Int): ArrayData = {
    val h = hashes.toLongArray()
    val mins: Array[Long] =
      if (h.length < window) h.clone()
      else {
        val out = new Array[Long](h.length - window + 1)
        val deque = new Array[Int](h.length)
        var head = 0
        var tail = 0 // live index range [head, tail)
        var i = 0
        while (i < h.length) {
          while (tail > head && h(deque(tail - 1)) >= h(i)) tail -= 1
          deque(tail) = i
          tail += 1
          if (deque(head) <= i - window) head += 1
          if (i >= window - 1) out(i - window + 1) = h(deque(head))
          i += 1
        }
        out
      }
    java.util.Arrays.sort(mins)
    var w = 0
    var r = 0
    while (r < mins.length) {
      if (w == 0 || mins(w - 1) != mins(r)) { mins(w) = mins(r); w += 1 }
      r += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(mins, w))
  }

  /** FNV-1a 64-bit over UTF-8 bytes — deterministic across JVMs /
    * engines (same recipe as the generator's doc hash). */
  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** splitmix64 finalizer — FNV-1a alone has weak avalanche on short
    * inputs (single-char words hash to values differing only in low
    * bits, which correlates simhash signatures); the finalizer
    * restores full bit diffusion. */
  def mix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** 64-bit SimHash over an array of words: each word hashed with
    * FNV-1a + finalizer; bit i of the result is 1 iff the sum of
    * (±1 per word, + when the word's hash has bit i set) is > 0.
    * One pass, no allocation beyond the counter array. */
  def simhash64(words: ArrayData): Long = {
    val counters = new Array[Int](64)
    val n = words.numElements()
    var w = 0
    while (w < n) {
      if (!words.isNullAt(w)) {
        val h = mix64(fnv1a64(words.getUTF8String(w)))
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) counters(i) += 1 else counters(i) -= 1
          i += 1
        }
      }
      w += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (counters(i) > 0) out |= (1L << i); i += 1 }
    out
  }
}
