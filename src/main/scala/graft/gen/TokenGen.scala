package graft.gen

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.model.TokenCodec

/** One fragment of a tokenized document as it arrives on the stream.
  * Stored-table schema per BASELINE input_hint is the first four
  * columns; the rest are ingest-time streaming columns (FIXTURES §1). */
final case class Fragment(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String,
    event_time: Timestamp,
    page_idx: Int,
    frag_idx: Int,
    is_dup: Boolean,
    is_late: Boolean)

/**
 * Deterministic generator of the canonical input table
 * `(doc_id, tokens:array<int32>, n_tok, source)` per FIXTURES.md §1.
 *
 * seed=42, xorshift64 streams, Zipf(1.2) source skew, 5% exact
 * duplicate doc_ids, 2% late fragments, 10% multi-fragment docs —
 * mirrors the reference's deterministic testserver
 * (reference: testserver/main.go:87-187).
 *
 * Generation is distributed (flatMap over spark.range) and pure per
 * doc index, so any slice of the table is reproducible independently —
 * this is what lets the same generator drive a 10^12-row table on a
 * real cluster: no driver-side state, no collect.
 */
object TokenGen {
  val SEED: Long = 42L
  val BASE_EPOCH_MS: Long = 1767225600000L // 2026-01-01T00:00:00Z — fixed, no wall clock
  /** Sources of the generated table and fragment stream, and their skew. */
  private val N_SOURCES = 32
  private val ZIPF_EXPONENT = 1.2

  /** xorshift64* step. */
  @inline private def next(x0: Long): Long = {
    var x = x0
    x ^= x << 13
    x ^= x >>> 7
    x ^= x << 17
    if (x == 0L) 0x9E3779B97F4A7C15L else x
  }

  final class Rng(seed0: Long) {
    private var s: Long = if (seed0 == 0L) 0x9E3779B97F4A7C15L else seed0
    def nextLong(): Long = { s = next(s); s }
    /** uniform in [0, n) */
    def nextInt(n: Int): Int = (((nextLong() >>> 1) % n).toInt)
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  }

  /** FNV-1a 64-bit over a string — deterministic doc hash. */
  def fnv1a(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Zipf(1.2) cumulative weights over nSources (hot-source skew per
    * north_rule "skew handled explicitly"). */
  def zipfCdf(nSources: Int): Array[Double] = {
    val w = Array.tabulate(nSources)(k => 1.0 / math.pow(k + 1.0, ZIPF_EXPONENT))
    val total = w.sum
    val cdf = new Array[Double](nSources)
    var acc = 0.0
    var i = 0
    while (i < nSources) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf
  }

  private def pickSource(r: Double, cdf: Array[Double]): Int = {
    var i = 0
    while (i < cdf.length - 1 && r > cdf(i)) i += 1
    i
  }

  /** Token stream for one document: 1–5 blocks, each RECORD_START +
    * 1–6 tagged fields. Tags drawn from [MIN_TAG, MIN_TAG+9]; payload
    * tokens in [MIN_PAYLOAD, VOCAB). ~3% of fields are empty (payload
    * length 0) to exercise nil-omission. */
  def docTokens(rng: Rng): Array[Int] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    val nBlocks = 1 + rng.nextInt(5)
    var b = 0
    while (b < nBlocks) {
      buf += TokenCodec.RECORD_START
      val nFields = 1 + rng.nextInt(6)
      var f = 0
      while (f < nFields) {
        buf += TokenCodec.MIN_TAG + rng.nextInt(10)
        val payLen = if (rng.nextInt(33) == 0) 0 else 1 + rng.nextInt(20)
        // ~1/12 of non-trivial fields carry the planted [100,101]
        // bigram at a seeded offset — gives the TokenPattern extractor
        // (regex find-all analog) a non-vacuous hit population
        val plantAt =
          if (payLen >= 2 && rng.nextInt(12) == 0) rng.nextInt(payLen - 1) else -1
        var p = 0
        while (p < payLen) {
          buf += (if (p == plantAt) 100
                  else if (p == plantAt + 1 && plantAt >= 0) 101
                  else TokenCodec.MIN_PAYLOAD +
                    rng.nextInt(TokenCodec.VOCAB - TokenCodec.MIN_PAYLOAD))
          p += 1
        }
        buf += TokenCodec.FIELD_DELIM
        f += 1
      }
      b += 1
    }
    buf.toArray
  }

  /** All fragments for doc index i — pure function of (i, nSources, cdf).
    * Duplicates (i%20==7) re-emit every fragment byte-identically with a
    * +30s event_time; late docs (i%50==3) carry event_time 1h in the
    * past (beyond any reasonable watermark). Multi-fragment docs
    * (i%10==0) split at block boundaries into 2–4 page fragments
    * (pagination analog, reference scrape/scrape.go:394-427). */
  def docFragments(i: Long, cdf: Array[Double]): Seq[Fragment] = {
    val srcRng = new Rng(SEED ^ (i * 0x9E3779B97F4A7C15L + 1))
    val srcIdx = pickSource(srcRng.nextDouble(), cdf)
    val source = f"src-$srcIdx%03d"
    val docId = f"$source%s/doc-$i%08d"
    val rng = new Rng(SEED ^ fnv1a(docId))
    val tokens = docTokens(rng)
    val isDup = i % 20 == 7
    val isLate = i % 50 == 3
    val baseTs = BASE_EPOCH_MS + i * 1000L - (if (isLate) 3600000L else 0L)

    val nFrags = if (i % 10 == 0) 2 + rng.nextInt(3) else 1
    val frags: Seq[(Array[Int], Int)] =
      if (nFrags == 1) Seq((tokens, 0))
      else {
        // split at block boundaries (positions of RECORD_START)
        val starts = tokens.indices.filter(tokens(_) == TokenCodec.RECORD_START)
        val cuts = // nFrags-1 distinct cut points among block starts (excluding 0)
          if (starts.length <= 1) Seq.empty[Int]
          else starts.tail.grouped(math.max(1, starts.tail.length / (nFrags - 1)))
            .map(_.head).take(nFrags - 1).toSeq
        val bounds = (0 +: cuts :+ tokens.length).distinct.sorted
        bounds.zip(bounds.tail).zipWithIndex.map { case ((a, b), k) =>
          (tokens.slice(a, b), k)
        }
      }

    val base = frags.map { case (t, pageIdx) =>
      Fragment(docId, t, t.length, source,
        new Timestamp(baseTs + pageIdx * 1000L), pageIdx, pageIdx,
        is_dup = false, is_late = isLate)
    }
    if (isDup) base ++ base.map(f =>
      f.copy(event_time = new Timestamp(f.event_time.getTime + 30000L), is_dup = true))
    else base
  }

  /** The full fragment stream as a typed Dataset — distributed, seeded,
    * no driver-side materialization. */
  def fragments(spark: SparkSession, nDocs: Long): Dataset[Fragment] = {
    import spark.implicits._
    val cdf = zipfCdf(N_SOURCES)
    spark.range(nDocs).flatMap(i => docFragments(i, cdf))
  }

  /** Deterministic child-document universe for details traversal
    * (reference scrape/scrape.go:586-654: each extracted URL spawns a
    * child scrape). The "web" is a pure function key → page: any
    * extracted Path key resolves to the same child tokens everywhere,
    * so parent and child sides can be generated independently at any
    * scale with no driver-side state. */
  def childTokens(key: String): Array[Int] = synthTokens("child/", key)

  /** Shared kernel of the deterministic key→page functions: page
    * tokens for `key` under namespace `ns` — called both from the
    * Scala helpers and (through [[synthPage]]) from generated code,
    * so the generated-code path is definitionally equal to the Scala
    * one. */
  def synthTokens(ns: String, key: String): Array[Int] =
    docTokens(new Rng(SEED ^ fnv1a(ns + key)))

  /** [[synthTokens]] over Spark's internal types: the kernel behind
    * `Kernels.synthPage`. */
  def synthPage(key: UTF8String, ns: String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(synthTokens(ns, key.toString))

  /** Child-doc table for a set of link keys: canonical input_hint
    * schema with source="details". */
  def childDocs(spark: SparkSession, keys: Dataset[String]): DataFrame =
    synthDocs(keys, "child/", "details")

  /** Deterministic page universe for the pagination crawl (reference
    * paginate/paginate.go) — same pure key→page scheme as
    * [[childTokens]] but in its own namespace so crawl chains and
    * details traversals never collide. */
  def pageTokens(key: String): Array[Int] = synthTokens("page/", key)

  /** Page table for a set of crawl keys: canonical input_hint schema
    * with source="page". One row per distinct key. */
  def pageDocs(spark: SparkSession, keys: Dataset[String]): DataFrame =
    synthDocs(keys, "page/", "page")

  /** key set → input_hint table under namespace `ns`: distinct keys,
    * then the synthPage kernel per row — no typed map, no
    * Encoder round-trip; the whole resolve stays in whole-stage
    * codegen after the distinct's exchange. */
  private def synthDocs(keys: Dataset[String], ns: String, source: String): DataFrame = {
    import org.apache.spark.sql.functions._
    keys.toDF("doc_id").distinct()
      .withColumn("tokens",
        org.apache.spark.sql.graft.Kernels.synthPage(col("doc_id"), ns))
      .withColumn("n_tok", size(col("tokens")))
      .withColumn("source", lit(source))
  }

  /** Canonical stored table per input_hint: one row per document
    * (fragments pre-stitched, duplicates dropped) — what the Iceberg
    * table of pre-tokenized sequences would contain at rest. */
  def table(spark: SparkSession, nDocs: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val fr = fragments(spark, nDocs)
    fr.where(!col("is_dup"))
      .groupBy(col("doc_id"), col("source"))
      .agg(sort_array(collect_list(struct(col("page_idx"), col("tokens")))).as("parts"))
      .select(
        col("doc_id"),
        flatten(col("parts.tokens")).as("tokens"),
        col("source"))
      .withColumn("n_tok", size(col("tokens")))
      .select("doc_id", "tokens", "n_tok", "source")
  }
}
