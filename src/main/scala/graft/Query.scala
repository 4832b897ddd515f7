package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Similarity

/** One driver query: its plan over an sf dir, its DuckDB oracle, and the
  * oracle tables that SQL reads. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, oracleSql: String,
    exports: Seq[Export] = Nil) {
  /** The tables the SQL reads as `{GRAFT_OUT}/.oracle_tables/<table>/`
    * must be exactly the `exports`' tables. */
  def checkExports(): Unit = {
    val reads = """\{GRAFT_OUT\}/\.oracle_tables/(\w+)/""".r.findAllMatchIn(oracleSql).map(_.group(1)).toSet
    require(reads == exports.map(_.table).toSet, s"$name: oracle SQL reads $reads, exports ${exports.map(_.table)}")
  }
}

object Query {
  /** `body`, then drop what it left cached: dedup queries cache shingle
    * sets, details levels localCheckpoint (RDD-level blocks clearCache
    * does not reach). */
  def run[T](spark: SparkSession)(body: => T): T =
    try body finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
}

/** An oracle table Verify writes to `.oracle_tables/<table>` for DuckDB. */
final case class Export(table: String, build: ExportInputs => DataFrame)

/** What the [[Export]] builders of one write read. The IVF centroids are
  * computed once, for both the cells and the probes table. */
final class ExportInputs(val spark: SparkSession, val sfDir: String) {
  def documents: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
  def embeddings: DataFrame = spark.read.parquet(s"$sfDir/embeddings.parquet")
  lazy val ivfCentroids: Array[Array[Double]] = Similarity.ivfCentroids(embeddings)
}
