package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.Kernels
import graft.functions.VectorKernels
import graft.gen.TokenGen

/**
 * Similarity search over an embedding column (`embeddings` table:
 * vec_id, embedding: array<float>, label).
 *
 *  - [[bruteTopK]] — exact top-k cosine neighbors: broadcast the
 *    (small) query set against the full corpus, rank per query. The
 *    corpus is scanned once, never shuffled; per-row work is the
 *    codegen'd cosine kernel. This is the correctness baseline and
 *    also the right plan at any corpus size when |queries| is small.
 *  - [[lshCandidates]] / [[lshTopK]] — the scale path: random-
 *    hyperplane signatures (deterministic, seeded) bucket the corpus;
 *    a query only meets candidates sharing a bucket in ≥1 table.
 *    Corpus-side signatures are narrow per-row work; the only
 *    shuffle is the (vec_id, table, bucket) equi-join. Recall is
 *    tunable by (nTables, Planes); exactness within met candidates.
 */
object Similarity {

  /** LSH tables of [[lshTopK]]. */
  val AnnTables = 8
  /** Neighbors per query of every top-k ranker. */
  private val K = 5
  /** Hyperplanes per LSH table (bits per bucket key), over the
    * `embeddings` table's dimension. */
  private val Planes = 4
  private val Dim = 64
  /** IVF quantizer: cells, Lloyd iterations, training-sample rows, and
    * the cells each query probes. */
  private val IvfCells = 16
  private val IvfIters = 5
  private val IvfSample = 1024
  private val IvfProbes = 4

  /** Deterministic unit-free hyperplanes: values in [-1,1) from the
    * seeded xorshift stream; plane p of table t is independent. */
  private def hyperplanes(nTables: Int): Seq[Seq[Array[Double]]] = {
    val rng = new TokenGen.Rng(TokenGen.SEED)
    Seq.fill(nTables)(Seq.fill(Planes)(Array.fill(Dim)(rng.nextDouble() * 2 - 1)))
  }

  /** Exact top-k neighbors for each query vector, the query row itself
    * excluded. Query side must be small (it is broadcast). */
  def bruteTopK(corpus: DataFrame, queries: DataFrame): DataFrame =
    topK(vectors(corpus, "n").join(broadcast(vectors(queries, "q")),
      col("q_id") =!= col("n_id")))

  /** (`<side>_id`, `<side>v`): a vector table renamed for one side of a pair. */
  private def vectors(emb: DataFrame, side: String): DataFrame =
    emb.select(col("vec_id").as(s"${side}_id"), col("embedding").as(s"${side}v"))

  /** (q_id, rank, n_id): the [[K]] nearest n per q by exact cosine, ties
    * to the lower n_id, over (q_id, qv, n_id, nv) pairs. */
  private def topK(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    pairs.withColumn("cos", Kernels.cosineSim(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("rank").cast("bigint").as("rank"), col("n_id"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** [[topK]] over candidate (q_id, n_id) pairs, vectors joined on. */
  private def rankCandidates(cand: DataFrame, corpus: DataFrame, queries: DataFrame): DataFrame =
    topK(cand.join(vectors(queries, "q"), Seq("q_id")).join(vectors(corpus, "n"), Seq("n_id")))

  /** (vec_id, table, bucket) rows: bucket = sign bits of the vector
    * against each hyperplane of the table, via the fused
    * hyperplaneBucket codegen kernel — ONE pass over the vector
    * per table (sign(dot) == sign(cosine), so norms never compute).
    * Round-1 evaluated Planes separate cosine kernels per table,
    * each redoing both norms — the dominant ann_lsh cost. */
  def lshCandidates(emb: DataFrame, nTables: Int): DataFrame = {
    val planes = hyperplanes(nTables)
    val tables = (0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        Kernels.hyperplaneBucket(col("embedding"), planes(t).toArray).as("bucket"))
    }
    emb.select(col("vec_id"), explode(array(tables: _*)).as("b"))
      .select(col("vec_id"), col("b.tbl"), col("b.bucket"))
  }

  /**
   * IVF coarse quantizer: [[IvfCells]] centroids from seeded Lloyd
   * iterations over a BOUNDED deterministic sample (the `IvfSample`
   * lowest `xxhash64(vec_id)` rows — a distributed top-N, so the sample
   * and hence the centroids are identical at any corpus scale). The
   * sample is tiny (≤ IvfSample × dim doubles) and Lloyd runs on the
   * driver in microseconds; the expensive part — assigning the corpus
   * to cells — is the fused ivfProbes codegen kernel, one narrow
   * pass per row.
   */
  def ivfCentroids(emb: DataFrame): Array[Array[Double]] = {
    val sample = emb
      .orderBy(xxhash64(col("vec_id").cast("string")), col("vec_id"))
      .limit(IvfSample)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length >= IvfCells, s"sample ${sample.length} < $IvfCells cells")
    var cents = sample.take(IvfCells).map(_.clone())
    val dim = sample.head.length
    for (_ <- 0 until IvfIters) {
      val sums = Array.fill(IvfCells)(new Array[Double](dim))
      val counts = new Array[Int](IvfCells)
      sample.foreach { v =>
        // the corpus's own assignment kernel: nearest cell, ties → lower index
        val best = VectorKernels.probeCells(
          UnsafeArrayData.fromPrimitiveArray(v), cents, 1, isFloat = false).getInt(0)
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(IvfCells)(c =>
        if (counts(c) == 0) cents(c) // empty cell keeps its centroid (deterministic)
        else sums(c).map(_ / counts(c)))
    }
    cents
  }

  /** (vec_id, cell) corpus assignment under the IVF quantizer. */
  def ivfCells(emb: DataFrame, cents: Array[Array[Double]]): DataFrame =
    emb.select(col("vec_id"),
      element_at(Kernels.ivfProbes(col("embedding"), cents, 1), 1)
        .as("cell"))

  /** (q_id, cell) probe list per query: the [[IvfProbes]] nearest cells. */
  def ivfProbeRows(queries: DataFrame, cents: Array[Array[Double]]): DataFrame =
    queries.select(col("vec_id").as("q_id"),
      explode(Kernels.ivfProbes(col("embedding"), cents, IvfProbes))
        .as("cell"))

  /**
   * IVF approximate top-k — the second sub-quadratic scale path next
   * to [[lshTopK]] (coarse-quantizer partitioning instead of random
   * hyperplanes): queries scan only their IvfProbes nearest cells
   * (~IvfProbes/IvfCells of the corpus), exact cosine ranking within.
   * Fully deterministic (seeded sample → fixed centroids).
   */
  def ivfTopK(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val cents = ivfCentroids(corpus)
    val cells = ivfCells(corpus, cents)
    val cand = ivfProbeRows(queries, cents)
      .join(cells, Seq("cell"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .filter(col("q_id") =!= col("n_id"))
    rankCandidates(cand, corpus, queries)
  }

  /** Approximate top-k: exact ranking restricted to bucket-sharing
    * candidates. Misses are possible by design; RecallSpec pins the
    * measured recall vs [[bruteTopK]] on the fixed corpus. */
  def lshTopK(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val cb = lshCandidates(corpus, AnnTables).toDF("n_id", "tbl", "bucket")
    val qb = lshCandidates(queries, AnnTables).toDF("q_id", "tbl", "bucket")
    val cand = qb.join(cb, Seq("tbl", "bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id")).dropDuplicates("q_id", "n_id")
    rankCandidates(cand, corpus, queries)
  }
}
