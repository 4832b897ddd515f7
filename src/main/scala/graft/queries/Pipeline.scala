package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline._

/**
 * Training-data pipeline queries over the driver's `documents` and
 * `embeddings` tables (+ the deterministic synthetic media corpus).
 * Each has a DuckDB oracle in its SparkEntry.all record; the LSH,
 * winnow and multimodal ones read tables Verify exports (buckets,
 * gram hashes, media). PipelineSpec also pins them (planted-duplicate
 * corpora, recall floors, schema round-trips).
 */
object Pipeline {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
  private def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(spark, dir))

  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(docs(spark, dir), threshold = 0.2)

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(docs(spark, dir), threshold = 0.2)

  def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(spark, dir))

  def embedNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embedNearDup(emb(spark, dir), threshold = 0.45)

  def embedNearDupLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.embedNearDupLsh(emb(spark, dir), threshold = 0.45)

  /** The ANN queries' query set: the first ten vectors (shared with
    * Verify's IVF probe export). */
  def annQueries(emb: DataFrame): DataFrame = emb.filter(col("vec_id") < 10)

  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Similarity.bruteTopK(e, annQueries(e))
  }

  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Similarity.lshTopK(e, annQueries(e))
  }

  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    Similarity.ivfTopK(e, annQueries(e))
  }

  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(docs(spark, dir))

  def quality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.quality(docs(spark, dir))

  def langId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(docs(spark, dir))

  def fingerprintMd5(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprintMd5(docs(spark, dir))

  /** Driver-facing winnow fingerprint: the selected-hash list exports
    * as (count, md5-of-joined-list) — scalar images of the array
    * (driver compare can't sort array cells); PipelineSpec pins the
    * raw array semantics. DuckDB oracle redoes the winnowing from the
    * exported gram-hash table (its SparkEntry.all record). n_winnow is
    * BIGINT for physical-width parity with DuckDB len(). */
  def fingerprintWinnow(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprint(docs(spark, dir))
      .select(col("doc_id"), col("md5_fp"),
        size(col("winnow_fp")).cast("bigint").as("n_winnow"),
        md5(array_join(transform(col("winnow_fp"), h => h.cast("string")), ","))
          .as("winnow_md5"))

  /** Media corpus size scaled to the sf dir (shared with Verify's
    * export so the DuckDB oracle sees the same rows). */
  def mediaCount(dir: String): Long = TokenEngine.scaled(dir, 200L, 500L, 2000L)

  def multimodalStats(spark: SparkSession, dir: String): DataFrame =
    Multimodal.kindStats(Multimodal.extractFeatures(
      Multimodal.synthesize(spark, mediaCount(dir))))
}
