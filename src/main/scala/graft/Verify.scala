package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.bench.Json
/** Driver-run correctness dump: each SparkEntry query's result → parquet,
  * plus the oracle tables and oracle_sql.json, for the driver's DuckDB
  * compare. */
object Verify {
  /** Failed queries' messages, written next to oracle_sql.json. */
  private val FailuresFile = "verify_failures.json"

  /** Write every oracle table the queries declare, each once, then each
    * query's result, then oracle_sql.json and the failures file; returns
    * each failed query's message. */
  def write(spark: SparkSession, sfDir: String, outDir: String): Map[String, String] = {
    SparkEntry.all.foreach(_.checkExports())
    new java.io.File(outDir).mkdirs()
    val exports = SparkEntry.all.flatMap(_.exports).distinct
    require(exports.map(_.table).distinct.size == exports.size, s"one oracle table, two builders: $exports")
    val inputs = new ExportInputs(spark, sfDir)
    for (e <- exports) e.build(inputs).write.mode("overwrite").parquet(s"$outDir/.oracle_tables/${e.table}")
    // a failing query is recorded and skipped, not fatal: the other
    // queries still land for the compare
    val failures = SparkEntry.all.flatMap { q =>
      try {
        Query.run(spark)(q.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}"))
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        Some(q.name -> String.valueOf(e.getMessage))
      }
    }.toMap
    val absOut = Paths.get(outDir).toAbsolutePath.toString
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json(SparkEntry.oracleSql.map { case (k, v) => k -> v.replace("{GRAFT_OUT}", absOut) }))
    Files.writeString(Paths.get(s"$outDir/$FailuresFile"), Json(failures))
    failures
  }

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
    val failures = write(spark, sfDir, outDir)
    val n = SparkEntry.all.size
    System.err.println(
      if (failures.isEmpty) s"[verify] all $n queries written"
      else s"[verify] ${failures.size} of $n queries failed " +
        s"(${failures.keys.mkString(", ")}); messages in $outDir/$FailuresFile")
    spark.stop()
  }
}
