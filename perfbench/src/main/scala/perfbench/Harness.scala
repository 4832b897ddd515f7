package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of one measuring JVM (see run.py, which starts it);
  * `warm` is the number of untimed warm-up passes. */
final case class Opts(
    mode: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cpus: Int,
    work: Path,
    out: Path,
    docs: Long,
    warm: Int,
    input: Option[String],
    queries: Option[String]) {
  /** Doc-index offset of this seed's corpus window. TokenGen's doc classes
    * (duplicates, late docs, multi-page docs) repeat every 100 indices, so
    * any window starting on a multiple of 100 has the same class mix. */
  def docBase: Long = 100L * (1L + java.lang.Math.floorMod(seed * 2654435761L, 1000000L))
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.drop(1).grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(
      mode = args(0),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      trace = kv("trace") == "1",
      cpus = kv("cpus").toInt,
      work = Paths.get(kv("work")),
      out = Paths.get(kv("out")),
      docs = kv.getOrElse("docs", "0").toLong,
      warm = kv.getOrElse("warm", "1").toInt,
      input = kv.get("input"),
      queries = kv.get("queries"))
  }
}

/** Results of one JVM: named values plus correctness checks, written as
  * one JSON object for run.py. A failed check is printed at once on
  * stderr and counted; nothing is retried or skipped. */
final class Report {
  val values = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def put(k: String, v: Any): Unit = values(k) = v

  /** One checked operation: counts toward `attempted`, and toward
    * `failed` when `ok` is false. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] FAIL $name: $detail")
    }
    checks += ((name, ok, if (ok) "" else detail))
    ok
  }

  /** Share of the machine's CPU time stolen by the host since `from`. */
  def stealSince(from: (Long, Long)): Unit = {
    val (s1, t1) = Harness.cpuJiffies()
    put("steal_frac", if (t1 > from._2) (s1 - from._1).toDouble / (t1 - from._2) else 0.0)
  }

  def json(setupS: Double): String = Json.write(values ++ Seq(
    "setup_s" -> setupS,
    "peak_rss_mb" -> Harness.peakRssMb(),
    "attempted" -> attempted,
    "failed" -> failed,
    "failures" -> checks.filterNot(_._2).map(c => s"${c._1}: ${c._3}").toSeq))
}

object Harness {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** (steal, total) CPU jiffies of the whole machine, from /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat").getLines().next().split("\\s+").drop(1).map(_.toLong)
    (f(7), f.take(8).sum)
  }

  /** CPU time of this JVM's threads, ms (host steal is not counted). */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Seconds since this JVM started. */
  def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the session settings of the engine's own benchmark (Bench.session),
      // so both measure the same configuration
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .config("spark.sql.streaming.stateStore.minDeltasForSnapshot", "1000")
      // keep every micro-batch's progress: latency and per-batch layer
      // figures are read from StreamingQuery.recentProgress
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f)))

  /** Bytes and regular-file count under `p`. */
  def treeSize(p: Path): (Long, Long) =
    scala.util.Using.resource(Files.walk(p)) { s =>
      var bytes = 0L
      var files = 0L
      s.filter(Files.isRegularFile(_)).forEach { f => bytes += Files.size(f); files += 1 }
      (bytes, files)
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case (a, b) => write(Seq(a, b))
    case (a, b, c) => write(Seq(a, b, c))
    case a: Array[_] => write(a.toSeq)
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON-writable: $other")
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
