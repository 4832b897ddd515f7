package perfbench

import java.nio.file.Files

/** One measuring JVM: `<mode> --seed --seconds --trace --cpus --work --out
  * [--docs] [--warm] [--input] [--queries]`. Writes its result as JSON to
  * `--out`; run.py turns the results of a run's JVMs into the benchmark's
  * metrics. `--queries <tables>` runs one checked and one measured pass of
  * the query suite over `<tables>` after a stream workload. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(o.work)
    val spark = Harness.session(o.cpus, o.work)
    val rep = new Report
    try {
      val setupS = o.mode match {
        case "backfill" => Backfill.run(spark, o, rep)
        case "trickle" => Trickle.run(spark, o, rep)
        case "queries" => QuerySuite.run(spark, o, rep)
        case m => throw new IllegalArgumentException(s"unknown mode $m")
      }
      o.queries.foreach(dir => QuerySuite.run(spark, o.copy(seconds = 0, input = Some(dir)), rep))
      Files.writeString(o.out, rep.json(setupS))
    } finally spark.stop()
  }
}
