package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.bench.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Failed queries' messages, written next to oracle_sql.json. */
  private val FailuresFile = "verify_failures.json"

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Export the synthesized token table so DuckDB can oracle the
    // token-domain queries: the driver only registers sfDir/*.parquet
    // as views, but oracle SQL may read any absolute path — entries
    // use the {GRAFT_OUT} placeholder, substituted here.
    graft.queries.TokenEngine.docsFor(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/tokens")
    graft.queries.TokenEngine.childUniverse(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/child_tokens")
    // crawl oracle inputs: origin keys (the SAME definition the crawl
    // queries use) + a SUPERSET of the reachable page universe with
    // per-page next_key — DuckDB re-walks the chains recursively
    // (stop/cycle/maxPages logic independent)
    graft.queries.TokenEngine.crawlOrigins(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/crawl_origins")
    graft.queries.TokenEngine.crawlUniverse(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/crawl_pages")
    // pacing input rows (the SAME definition pacingSchedule folds
    // over) — DuckDB replays only the fold, via its closed form
    graft.queries.TokenEngine.pacingRows(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/pacing_rows")
    // stitch input fragments (late rows already excluded) — DuckDB
    // re-derives first-arrival dedup + page-order assembly itself
    graft.queries.TokenEngine.stitchFragments(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/stitch_frags")
    // session-jar cookie events — DuckDB re-derives the jar fold
    // (TTL segmentation + per-event prefix aggregation) itself
    graft.queries.TokenEngine.jarEvents(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/jar_events")
    // poisoned token rows — DuckDB re-derives every row's dead-letter
    // status independently (only the corruption itself is shared)
    graft.queries.TokenEngine.dlRows(spark, sfDir)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/dl_rows")
    graft.pipeline.Multimodal
      .synthesize(spark, graft.queries.Pipeline.mediaCount(sfDir))
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/media")
    // deterministic hyperplane buckets of the embeddings corpus: lets
    // DuckDB rank the SAME candidate set independently (the bucketing
    // itself is seeded-constant, verified by the recall test)
    graft.pipeline.Similarity
      .lshCandidates(spark.read.parquet(s"$sfDir/embeddings.parquet"),
        graft.pipeline.Similarity.AnnTables)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/ann_buckets")
    graft.pipeline.Dedup
      .simhashSigs(spark.read.parquet(s"$sfDir/documents.parquet"))
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/simhash_sigs")
    // per-doc ordered k-gram hash stream: DuckDB redoes winnowing
    // (window-min, distinct, sort, digest) independently
    graft.pipeline.TextAnalysis
      .winnowGrams(spark.read.parquet(s"$sfDir/documents.parquet"))
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/winnow_grams")
    // near-dup LSH bucket table (the embedNearDupLsh tables)
    graft.pipeline.Similarity
      .lshCandidates(spark.read.parquet(s"$sfDir/embeddings.parquet"),
        graft.pipeline.Dedup.NearDupTables)
      .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/neardup_buckets")
    // IVF cell assignments + query probe lists (same deterministic-
    // bucketing-export scheme as ann_buckets)
    locally {
      val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val cents = graft.pipeline.Similarity.ivfCentroids(e)
      graft.pipeline.Similarity.ivfCells(e, cents)
        .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/ivf_cells")
      graft.pipeline.Similarity
        .ivfProbeRows(graft.queries.Pipeline.annQueries(e), cents)
        .write.mode("overwrite").parquet(s"$outDir/.oracle_tables/ivf_probes")
    }
    // a failing query is recorded and skipped, not fatal: the other
    // queries still land for the compare
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      val failure =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> String.valueOf(e.getMessage))
        }
      // dedup queries cache shingle sets; details levels localCheckpoint
      // (RDD-level blocks clearCache does not reach)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      failure
    }
    val absOut = Paths.get(outDir).toAbsolutePath.toString
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json(SparkEntry.oracleSql.map { case (k, v) => k -> v.replace("{GRAFT_OUT}", absOut) }))
    // each failing query's name → message, beside oracle_sql.json
    Files.writeString(Paths.get(s"$outDir/$FailuresFile"), Json(failures))
    val n = SparkEntry.queries.size
    System.err.println(
      if (failures.isEmpty) s"[verify] all $n queries written"
      else s"[verify] ${failures.size} of $n queries failed " +
        s"(${failures.map(_._1).mkString(", ")}); messages in $outDir/$FailuresFile")
    spark.stop()
  }
}
