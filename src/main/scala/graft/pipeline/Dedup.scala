package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.Kernels

/**
 * Deduplication operators for a training-data pipeline over the
 * `documents` table `(doc_id, text, lang, source, n_chars)` — the
 * cross-run analog of the reference's frontier dedup (payload/URL
 * hash keys, scrape/scrape.go:44-48,100,611), widened to the
 * near-duplicate family a 100 TB corpus cleanup needs.
 *
 * Scale notes per operator:
 *  - exact: one hash-shuffle on the 16-byte digest, partial agg
 *    map-side; the text column never shuffles (hash computed first).
 *  - MinHash/LSH: signatures are computed NARROW (higher-order
 *    aggregate per row, no explode/shuffle); only (doc_id, band_key)
 *    pairs — k ints per doc — shuffle for bucketing. Candidate
 *    verification joins shingle SETS only for candidate pairs, never
 *    all pairs: O(n²) is avoided unless the data is pathologically
 *    self-similar.
 *  - SimHash: one 8-byte signature per doc via a codegen'd custom
 *    expression; banding by 16-bit sub-keys (pigeonhole: hamming ≤ 3
 *    ⇒ at least one of 4 bands equal), verify with bit_count(xor).
 *  - embedding near-dup: block-nested-loop with the smaller side
 *    broadcast; at cluster scale replace the broadcast with the LSH
 *    bucketing of [[Similarity.lshCandidates]].
 */
object Dedup {

  /** Words per shingle of every shingle-set operator. */
  private val ShingleWords = 3
  /** MinHash banding: bands × rows per band = signature length. */
  private val Bands = 8
  private val RowsPerBand = 4
  /** SimHash pair bound; 4 bands of 16 bits find every pair within it
    * by pigeonhole only while it is ≤ 3. */
  private val MaxHamming = 3
  /** Blocks of the exact embedding near-dup's block-pair plan. */
  private val Blocks = 8
  /** LSH tables of [[embedNearDupLsh]]. */
  val NearDupTables = 24

  /** Exact dedup by content hash: canonical row = min doc_id per
    * digest (deterministic winner, like the reference's first-write-
    * wins KV key). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_id"))

  /** Whitespace word split (kept identical to the DuckDB oracle's
    * string_split: empty strings preserved). */
  def words(textCol: Column): Column = split(textCol, " ")

  /** Distinct n-word shingles of a document, as strings — fused
    * codegen kernel (the array_distinct(transform(sequence...)) chain
    * is interpreted and was a large share of every dedup query). */
  def shingles(textCol: Column): Column =
    Kernels.shingleSet(words(textCol), ShingleWords)

  /** doc_id + distinct shingle set (shared by jaccard + minhash). */
  def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(col("text")).as("sh"))

  /** Cache + eager materialization: the shingle computation is an
    * interpreted higher-order-function chain referenced from several
    * subtrees of ONE job — a lazy cache() loses the race (each subtree
    * scan starts before any fills the cache) and the chain evaluates
    * per subtree. One cheap narrow pass up front makes every reuse a
    * cache hit. Query.run clears caches after each query. */
  private def materialized(df: DataFrame): DataFrame = {
    val cached = df.cache()
    cached.count()
    cached
  }

  /**
   * Exact n-gram Jaccard pairs via inverted index: explode shingles,
   * self-join on shingle (equi-join — NOT a cross join), count
   * intersections, compute |A∪B| from set sizes. Only documents
   * sharing ≥1 shingle ever meet. Emits (d1, d2, inter, n1, n2) for
   * pairs with Jaccard ≥ threshold; d1 < d2.
   *
   * Hot-shingle guard: shingles with document frequency > `maxDf` are
   * dropped BEFORE the self-join. One boilerplate shingle shared by
   * df documents produces O(df²) join rows on a single key — at
   * corpus scale that one key is the whole job. A shingle in more
   * than `maxDf` docs carries no discriminative signal for
   * near-duplicate detection (standard practice); set sizes n1/n2
   * stay the FULL distinct-shingle counts, and the DuckDB oracle
   * applies the identical cap.
   */
  def jaccardPairs(docs: DataFrame, threshold: Double, maxDf: Int = 100): DataFrame = {
    val sets = materialized(shingleSets(docs))
    val sizes = sets.select(col("doc_id"), size(col("sh")).as("n_sh"))
    // the inverted index joins on xxhash64 of the shingle, not the
    // string: intersection counts are identical modulo 64-bit
    // collisions (~1e-8 for millions of distinct shingles) and the
    // shuffle moves fixed 8-byte keys instead of shingle text — at
    // corpus scale the self-join's shuffle volume drops ~3×
    val inv = sets.select(col("doc_id"),
      explode(transform(col("sh"), s => xxhash64(s))).as("s"))
    // df computed in the same shuffle key-space as the join; the
    // semi-join keeps only cold shingles (df filter is map-side after
    // the broadcasted frequency table at real scale — AQE converts)
    val cold = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("s"))
    // NB: a using-column join reorders output (key first) — select
    // explicitly before positional renames
    val capped = inv.join(cold, Seq("s"), "left_semi")
      .select(col("doc_id"), col("s"))
    val a = capped.toDF("d1", "s")
    val b = capped.toDF("d2", "s")
    val inter = a.join(b, Seq("s")).filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("d1", "n1"), Seq("d1"))
      .join(sizes.toDF("d2", "n2"), Seq("d2"))
      .filter(col("inter").cast("double") /
        (col("n1") + col("n2") - col("inter")) >= threshold)
      .select(col("d1"), col("d2"), col("inter"),
        col("n1").cast("bigint").as("n1"), col("n2").cast("bigint").as("n2"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Mersenne prime 2^31-1: universal-hash modulus small enough that
    * a*h+b never overflows a long (ANSI mode turns silent wrap into a
    * runtime error, so the classic mod-2^64 trick is out). */
  private val MinhashP = 2147483647L

  /** Deterministic MinHash permutation parameters, one per signature
    * row (seeded; a ∈ [1,p), b ∈ [0,p)). */
  private def minhashParams: Seq[(Long, Long)] = {
    val rng = new graft.gen.TokenGen.Rng(graft.gen.TokenGen.SEED)
    Seq.fill(Bands * RowsPerBand)((1L + (rng.nextLong() >>> 33) % (MinhashP - 1),
      (rng.nextLong() >>> 33) % MinhashP))
  }

  /**
   * MinHash signatures computed narrow (no shuffle): per permutation
   * i, sig[i] = (a_i * h + b_i) mod p minimized over shingle hashes
   * h = xxhash64(sh) mod p. All intermediates < 2^62 — no overflow.
   * One fused codegen kernel per row — the equivalent k× interpreted
   * higher-order transform dominated the whole minhash query
   * (docs × shingles × k expression evals; same lesson as the
   * extraction TokenKernels).
   */
  def minhashSignature(sh: Column): Column = {
    val params = minhashParams
    Kernels.minhashSig(
      sh, params.map(_._1).toArray, params.map(_._2).toArray, MinhashP)
  }

  /**
   * MinHash + LSH banding: Bands × RowsPerBand signature, band key =
   * murmur hash of the band's slice; docs sharing any band key are
   * candidates; candidates verified with EXACT Jaccard on the shingle
   * sets (array_intersect — only for candidate pairs). Returns
   * verified pairs with Jaccard ≥ threshold.
   */
  def minhashLsh(docs: DataFrame, threshold: Double): DataFrame = {
    val sets = materialized(shingleSets(docs).filter(size(col("sh")) > 0))
    // ONLY (doc_id, band, bkey) enters the band exchange — k ints per
    // doc, as the module contract promises. The shingle sets stay in
    // `sets` and are joined back by doc_id AFTER candidate dedup, so
    // the (large) shingle text shuffles once per CANDIDATE side, never
    // bands× per document. (Round-1 carried `sh` through the band
    // self-join — the dominant shuffle at scale.)
    val sig = sets.select(col("doc_id"),
      minhashSignature(col("sh")).as("sig"))
    val banded = sig.select(col("doc_id"),
      explode(array((0 until Bands).map(bIdx =>
        struct(lit(bIdx).as("band"),
          hash(slice(col("sig"), bIdx * RowsPerBand + 1, RowsPerBand)).as("bkey"))): _*))
        .as("b"))
      .select(col("doc_id"), col("b.band"), col("b.bkey"))
    bucketPairs(banded, "d1", "d2")
      .join(sets.select(col("doc_id").as("d1"), col("sh").as("sh1")), Seq("d1"))
      .join(sets.select(col("doc_id").as("d2"), col("sh").as("sh2")), Seq("d2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jacc", col("inter").cast("double") /
        (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jacc") >= threshold)
      .select(col("d1"), col("d2"), col("inter").cast("bigint").as("inter"),
        size(col("sh1")).cast("bigint").as("n1"),
        size(col("sh2")).cast("bigint").as("n2"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Per-doc 64-bit SimHash signatures (exported by Verify so the
    * DuckDB oracle can redo banding + hamming verification
    * independently). */
  def simhashSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      Kernels.simhash64(words(col("text"))).as("sig"))

  /** SimHash near-dup pairs: 64-bit signature per doc (codegen'd
    * kernel), banded into 4×16-bit keys (pigeonhole
    * guarantee for hamming ≤ 3), verified with bit_count(xor) ≤
    * [[MaxHamming]]. */
  def simhashPairs(docs: DataFrame): DataFrame = {
    // the signature rides in the id struct (doc_id first, so struct
    // order is doc_id order): no join back after the pair dedup
    val banded = simhashSigs(docs).select(struct(col("doc_id"), col("sig")).as("doc"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"),
          shiftright(col("sig"), i * 16).bitwiseAND(lit(0xffffL)).as("bkey"))): _*)).as("b"))
      .select(col("doc"), col("b.band"), col("b.bkey"))
    bucketPairs(banded, "d1", "d2")
      .withColumn("hamming", bit_count(col("d1.sig").bitwiseXOR(col("d2.sig"))))
      .filter(col("hamming") <= MaxHamming)
      .select(col("d1.doc_id").as("d1"), col("d2.doc_id").as("d2"), col("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  /** Distinct (a, b) pairs, a < b, of the ids in the first column of
    * `buckets` that share a bucket: equal values in all its other
    * columns. The LSH candidate self-join of every banded operator. */
  private def bucketPairs(buckets: DataFrame, a: String, b: String): DataFrame = {
    val keys = buckets.columns.toSeq.tail
    buckets.toDF(a +: keys: _*).join(buckets.toDF(b +: keys: _*), keys)
      .filter(col(a) < col(b))
      .select(col(a), col(b)).dropDuplicates(a, b)
  }

  /**
   * Embedding-cosine near-dup pairs, EXACT, with a distributed
   * block-pair plan (the published 1-bucket-theta shape): rows hash
   * into B = [[Blocks]] blocks; the tiny (bi ≤ bj) task table is broadcast; both
   * sides replicate ~B/2× and meet in a shuffle hash join on task id.
   * No BroadcastNestedLoopJoin, no full-corpus broadcast, bounded
   * per-task memory (2·n/B rows) — the round-1 plan broadcast the
   * whole corpus and OOMs the moment n stops being tiny.
   *
   * Honest scale note: EXACT all-pairs at a weak threshold like 0.45
   * is inherently O(n²) compares — no exact algorithm avoids that;
   * this plan distributes those compares evenly with B ≈ √parallelism
   * and keeps every operator a shuffle join. For realistic near-dup
   * thresholds (≥0.8) use [[embedNearDupLsh]], the sub-quadratic
   * scale path (recall < 1 by design, pinned in PipelineSpec).
   */
  def embedNearDup(emb: DataFrame, threshold: Double = 0.45): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val tasks = (for { i <- 0 until Blocks; j <- i until Blocks }
      yield (i * Blocks + j, i, j)).toDF("task", "bi", "bj")
    val blocked = emb.select(col("vec_id"), col("embedding"),
      pmod(hash(col("vec_id")), lit(Blocks)).as("blk"))
    val a = blocked.join(broadcast(tasks), col("blk") === col("bi"))
      .select(col("task"), col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = blocked.join(broadcast(tasks), col("blk") === col("bj"))
      .select(col("task"), col("vec_id").as("id_b"), col("embedding").as("vb"))
    // which element of a cross-block pair lands on side a vs b is
    // decided by block, not id — order the ids explicitly via
    // least/greatest; diagonal tasks (bi=bj) see both orientations,
    // deduped after ordering
    a.join(b, Seq("task"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(Kernels.cosineSim(col("va"), col("vb")) >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Approximate near-dup pairs via hyperplane-LSH candidate buckets
    * (Similarity.lshCandidates) + exact-cosine verify — the
    * sub-quadratic 100 TB path. Output ⊆ [[embedNearDup]]; recall
    * depends on [[NearDupTables]] vs threshold and is pinned
    * empirically in PipelineSpec. */
  def embedNearDupLsh(emb: DataFrame, threshold: Double): DataFrame = {
    bucketPairs(Similarity.lshCandidates(emb, NearDupTables), "id_a", "id_b")
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
      .filter(Kernels.cosineSim(col("va"), col("vb")) >= threshold)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
