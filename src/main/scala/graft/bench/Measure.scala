package graft.bench

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.Query
import graft.gen.{Fragment, TokenGen}
import graft.queries.TokenEngine
import graft.sink.ResultTable
import graft.streaming.StreamJob

/** One measured stream attempt: extracted rows/s, wall seconds, the
  * host's CPU steal and DRAM bandwidth around it, and the sink's rows. */
final case class Attempt(rate: Double, wall: Double, stealPct: Double, memBwGBs: Double, rows: Long) {
  /** A forked level's result line: plain space-separated fields. */
  def toLine: String = productIterator.mkString(Attempt.Tag, " ", "")
}

object Attempt {
  val Tag = "BENCHATTEMPT "
  def fromLine(line: String): Attempt = line.stripPrefix(Tag).trim.split(' ') match {
    case Array(r, w, s, b, n) => Attempt(r.toDouble, w.toDouble, s.toDouble, b.toDouble, n.toLong)
  }
}

/** One parallelism level's attempts. Its best attempt is the level's
  * rate; `ok` says that attempt's rows equal the expected count. */
final case class Level(attempts: Seq[Attempt], expected: Long) {
  private val best = attempts.maxByOption(_.rate)
  def rate: Double = best.fold(0.0)(_.rate)
  def rows: Long = best.fold(0L)(_.rows)
  def ok: Boolean = best.exists(_.rows == expected)
  def minMemBw: Double = attempts.map(_.memBwGBs).minOption.getOrElse(0.0)
}

/** A quiet gate's last probe reading and the seconds it waited. */
final case class Gate(memBwGBs: Double, waitedSec: Long)

/** One (N, 4N) pair measured on one shared corpus. `costSec` is its
  * wall from the first gate to the end of the N level. */
final case class Pair(cpusN: Int, docs: Long, n: Level, n4: Level, gateN: Gate, gate4N: Gate, costSec: Long) {
  def eff: Double = if (n.rate > 0) n4.rate / n.rate / 4.0 else 0.0
}

/** Per-query best-of-reps wall seconds, and the message of each query
  * that threw. A failed query has no time. */
final case class QueryTimes(secs: ListMap[String, Double], failures: ListMap[String, String])

/** Corpus synthesis, one stream level, the query block, and the host
  * probes recorded beside them. */
object Measure {
  /** All bench I/O goes to tmpfs: on a one-disk box, state commits, sink
    * writes and spills queue behind each other and look like
    * anti-scaling, which a cluster with a disk per executor lacks. */
  val ioRoot: Path = {
    val shm = Paths.get("/dev/shm")
    Files.createDirectories((if (Files.isWritable(shm)) shm else Paths.get("/tmp")).resolve("graft-bench"))
  }

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cpus]").appName(s"graft-bench-$cpus").config(Map(
      "spark.local.dir" -> ioRoot.resolve("spark-local").toString, "spark.sql.shuffle.partitions" -> cpus,
      "spark.sql.session.timeZone" -> "UTC", "spark.ui.enabled" -> false, "spark.sql.adaptive.enabled" -> true,
      // the default 128 MB would collapse the corpus scan into a couple
      // of tasks and serialize the ingest regardless of cores
      "spark.sql.files.maxPartitionBytes" -> 8 * 1024 * 1024,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      // snapshot maintenance overlapping a short measured run distorts
      // it badly; deltas alone are correct, so push it past the run
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "3600s",
      "spark.sql.streaming.stateStore.minDeltasForSnapshot" -> 1000)).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))

  /** (steal, total) jiffies from /proc/stat: host CPU steal is recorded
    * in the artifact, not just described. */
  def cpuJiffies(): (Long, Long) =
    try scala.util.Using.resource(scala.io.Source.fromFile("/proc/stat")) { src =>
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Throwable => (0L, 0L) }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) 100.0 * (to._1 - from._1) / (to._2 - from._2) else 0.0

  /** Single-thread sequential-read DRAM bandwidth in GB/s over 256 MB
    * (the first pass warms pages, the second is timed). Host memory
    * contention is invisible to guest steal yet craters this workload
    * (>10x collapses seen at 2-4% steal). */
  private lazy val bwArr = new Array[Long](32 * 1024 * 1024)
  def memBwProbe(): Double = {
    var s = 0L
    val secs = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < bwArr.length) { s += bwArr(i); i += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    if (s == 42L) System.err.print("") // defeat dead-code elimination
    0.25 / secs.last
  }

  /** Files in a corpus, and per micro-batch: one trigger reads all. */
  def filesPerBatch(layoutCpus: Int): Int = math.max(1, layoutCpus / 4) * 8

  /** Write the deterministic fragment corpus and two flush files into
    * `dir/in`, and the same for a warmup corpus of 1/16 the docs (at
    * least 20k, enough to reach C2-compiled steady state) into
    * `dir/warm`; returns the corpus's expected extracted-row count. */
  def synthesize(spark: SparkSession, nDocs: Long, dir: String, layoutCpus: Int): Long = {
    import spark.implicits._
    def corpus(n: Long, out: String): Long = {
      val all = TokenGen.fragments(spark, n).filter(!_.is_late).cache()
      val expected = StreamJob.expectedRows(all, TokenEngine.flagshipSpec)
      all.repartition(filesPerBatch(layoutCpus)).write.mode("overwrite").parquet(s"$out/p1_00")
      // flushes sit strictly after the corpus's event-time range, to push
      // the watermark past every session timer; writes 1.2 s apart give
      // strictly increasing mtimes, the file source's batch order
      val flushTs = TokenGen.BASE_EPOCH_MS + n * 1000L + 3600000L
      for ((tag, off, sub) <- Seq(("f1", 0L, "p2"), ("f2", 600000L, "p3"))) {
        Thread.sleep(1200)
        Seq(Fragment(s"~$tag", Array(2), 1, "flush", new java.sql.Timestamp(flushTs + off), 0, 0, false, false))
          .toDS().coalesce(1).write.parquet(s"$out/$sub")
      }
      all.unpersist()
      expected
    }
    val expected = corpus(nDocs, s"$dir/in")
    corpus(math.min(nDocs, math.max(20000L, nDocs / 16)), s"$dir/warm")
    expected
  }

  /** Stream throughput at `cpus`: an untimed pass over the warmup corpus
    * (a fresh JVM's first pass is JIT), then `attempts` timed passes, each
    * into a fresh sink and checkpoint, dropped at once (tmpfs is RAM). */
  def level(cpus: Int, inDir: String, warmDir: String, mfpt: Int, attempts: Int): Seq[Attempt] = {
    val spark = session(cpus)
    val base = Files.createTempDirectory(ioRoot, s"run-$cpus-")
    def pass(dir: String, name: String): Attempt = try {
      val table = new ResultTable(base.resolve(s"table-$name").toString)
      val (bw, j0, t0) = (memBwProbe(), cpuJiffies(), System.nanoTime())
      StreamJob.run(StreamJob.fileSource(spark, s"$dir/*", maxFilesPerTrigger = mfpt),
        TokenEngine.flagshipSpec, table, base.resolve(s"ck-$name").toString, s"bench$cpus",
        watermarkDelay = "10 minutes", sessionGapMs = 60000L, trigger = Trigger.AvailableNow()).awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val steal = stealPct(j0, cpuJiffies())
      // an empty commit log reads as a schema-less frame the filter rejects
      val rows = if (table.snapshots().isEmpty) 0L else table.read(spark).filter(!col("doc_id").startsWith("~")).count()
      System.err.println(f"[bench cpus=$cpus $name] rate=${rows / wall}%.1f rows=$rows wall=$wall%.1fs " +
        f"steal=$steal%.1f%% membw=$bw%.1fGB/s")
      Attempt(rows / wall, wall, steal, bw, rows)
    } finally Seq("table", "ck").foreach(d => rmTree(base.resolve(s"$d-$name")))
    try {
      pass(warmDir, "warmup")
      (1 to attempts).map(i => pass(inDir, s"attempt=$i"))
    } finally { spark.stop(); rmTree(base) }
  }

  /** Best-of-`reps` wall seconds per query; one that throws is reported
    * on stderr and in `failures`, never timed. `toRdd.count()`, as a
    * Dataset count prunes unused columns and skips the kernels. */
  def timeQueries(spark: SparkSession, queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, reps: Int): QueryTimes = {
    // cache lifecycle is harness bookkeeping, outside the timed window
    def once(fn: (SparkSession, String) => DataFrame): Double = Query.run(spark) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    val runs = queries.map { case (name, fn) =>
      name -> (try Right((1 to reps).map(_ => once(fn)).min)
        catch { case e: Throwable => Left(e.toString.linesIterator.nextOption().getOrElse("").take(300)) })
    }
    for ((name, Left(msg)) <- runs) System.err.println(s"[bench query-failure] $name at $sfDir: $msg")
    QueryTimes(ListMap(runs.collect { case (n, Right(t)) => n -> t }: _*),
      ListMap(runs.collect { case (n, Left(msg)) => n -> msg }: _*))
  }
}
