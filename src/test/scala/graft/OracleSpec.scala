package graft

import java.nio.file.Files

import scala.sys.process._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.bench.Measure

/** Every driver query against its DuckDB oracle, as the driver compares
  * them: Verify's writer over the sf0.001 tables, then
  * tools/check_oracle.py over its output. */
class OracleSpec extends SparkSuite {

  test("each query's oracle SQL reads exactly its declared exports") {
    SparkEntry.all.foreach(_.checkExports())
    val sql = "SELECT * FROM read_parquet('{GRAFT_OUT}/.oracle_tables/tokens/*.parquet')"
    val build: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val tokens = Export("tokens", in => in.spark.emptyDataFrame)
    Query("q", build, sql, Seq(tokens)).checkExports()
    intercept[IllegalArgumentException](Query("q", build, sql).checkExports())
    intercept[IllegalArgumentException](Query("q", build, "SELECT 1", Seq(tokens)).checkExports())
  }

  test("Verify.write at sf0.001: tools/check_oracle.py reads ALL OK for every query") {
    val sf = "/root/testdata/sf0.001"
    val out = Files.createTempDirectory("graft-oracle-")
    try {
      val failures = Verify.write(spark, sf, out.toString)
      val log = new StringBuilder
      val exit = Seq("python3", "tools/check_oracle.py", sf, out.toString)
        .!(ProcessLogger(l => log ++= l ++= "\n", l => log ++= l ++= "\n"))
      assert(exit == 0 && log.toString.trim.endsWith("ALL OK") && failures.isEmpty,
        s"check_oracle.py exit $exit, Verify failures $failures:\n$log")
    } finally Measure.rmTree(out)
  }
}
