package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.gen.{Fragment, TokenGen}
import graft.queries.TokenEngine
import graft.sink.ResultTable
import graft.streaming.StreamJob

/**
 * stream_backfill: a staged fragment corpus through the whole pipeline with
 * Trigger.AvailableNow, repeated with a fresh checkpoint and sink until the
 * measuring time is spent. The corpus is laid out as Bench.synthesize lays it
 * out: the fragments (late ones filtered) in one micro-batch worth of files,
 * then two flush files whose event times close every session.
 */
object Backfill {
  // Bench's stream settings
  val Delay = "10 minutes"
  val GapMs = 60000L
  private val spec = TokenEngine.flagshipSpec

  /** Writes the corpus of docs [base, base + docs) under `dir`; returns
    * the expected rows. */
  def stage(spark: SparkSession, base: Long, docs: Long, files: Int, dir: Path): Long = {
    import spark.implicits._
    val cdf = TokenGen.zipfCdf(32)
    val all = spark.range(base, base + docs)
      .flatMap(i => TokenGen.docFragments(i, cdf)).filter(!_.is_late).cache()
    val expected = StreamJob.expectedRows(all, spec)
    all.repartition(files).write.parquet(dir.resolve("corpus/p1").toString)
    val flushTs = TokenGen.BASE_EPOCH_MS + (base + docs) * 1000L + 3600000L
    for ((tag, off) <- Seq("f1" -> 0L, "f2" -> 600000L))
      Seq(Fragment(s"~$tag", Array(2), 1, "flush", new java.sql.Timestamp(flushTs + off),
        0, 0, false, false)).toDS().coalesce(1).write.parquet(dir.resolve(s"corpus/p_$tag").toString)
    all.unpersist()
    // the file source takes files oldest first: corpus, then flush 1, then flush 2
    val now = System.currentTimeMillis()
    for ((sub, age) <- Seq("p1" -> 20000L, "p_f1" -> 10000L, "p_f2" -> 0L))
      parquetFiles(dir.resolve("corpus").resolve(sub)).foreach(f =>
        Files.setLastModifiedTime(f, FileTime.fromMillis(now - age)))
    Files.writeString(dir.resolve("EXPECTED"), expected.toString)
    expected
  }

  private def parquetFiles(d: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(d))(_.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq)

  /** The corpus of `o`'s seed under `in`; a run given `--input` reuses it. */
  private def inputs(spark: SparkSession, o: Opts): (Path, Long) = {
    val in = o.input.map(java.nio.file.Paths.get(_)).getOrElse(o.work.resolve("input"))
    if (o.input.isEmpty) stage(spark, o.docBase, o.docs, math.max(8, 2 * o.cpus), in)
    (in, Files.readString(in.resolve("EXPECTED")).trim.toLong)
  }

  def run(spark: SparkSession, o: Opts, rep: Report): Double = {
    val (in, expected) = inputs(spark, o)
    rep.put("expected_rows", expected)
    // warm: untimed attempts while the JIT compiles the hot paths (CPU per
    // row still falls over the first five to eight attempts)
    val attempts = new Attempts(spark, o, in, expected, rep)
    (1 to o.warm).foreach(_ => attempts.next(traced = false).cleanup())
    val setupS = Harness.uptimeS()

    val cpu0 = Harness.cpuJiffies()
    val (untraced, traced) = attempts.measure(o.seconds, o.trace, min = 4)
    rep.stealSince(cpu0)
    if (o.trace) {
      val last = traced.last
      rep.check("traced plan shape equals StreamJob.run's",
        last.plan == untraced.last.plan,
        s"traced ${last.plan.mkString(",")} vs untraced ${untraced.last.plan.mkString(",")}")
      import spark.implicits._
      val frags = spark.read.parquet(in.resolve("corpus/p1").toString).as[Fragment]
      val mismatch = Streams.oracleCheck(spark, frags, last.table, rep)
      val layers = traced.map(_.layers)
      rep.put("layers", layers.head.keys.map(key => key -> Harness.median(layers.map(_(key)))).toMap ++ Map(
        "stitch.event_time_mismatch_rows" -> mismatch,
        // staging filters late fragments out, so none is released and none
        // can be dropped: observed drops are the late fragments in the corpus
        "stitch.dropped_observed" -> frags.filter(_.is_late).count().toDouble))
      rep.put("samples.batch.trigger_ms", traced.flatMap(_.triggerMs))
      rep.put("samples.sink.append_ms", traced.flatMap(_.appendMs))
      rep.put("samples.sink.job_ms", traced.flatMap(_.jobMs))
      rep.put("samples.sink.snapshots_ms", traced.flatMap(_.snapshotsMs))
      rep.put("samples.sink.read_ms", traced.flatMap(_.readMs))
      last.cleanup()
      Micro.run(spark, o, rep)
    }
    setupS
  }

  /** Successive attempts over the corpus in `in`, each checked against the
    * expected row count. */
  final class Attempts(spark: SparkSession, o: Opts, in: Path, expected: Long, rep: Report) {
    private val mfpt = parquetFiles(in.resolve("corpus/p1")).size
    private var k = 0

    def next(traced: Boolean): Attempt = {
      k += 1
      val a = new Attempt(spark, o, in.toString, mfpt, k, traced)
      a.run()
      rep.check(s"attempt $k rows", a.rows == expected, s"sink rows ${a.rows} != expected $expected")
      a
    }

    /** At least `min` untraced attempts, then until `seconds` are spent;
      * when `trace`, a traced attempt follows each untraced one. Reports
      * both kinds (`attempts`, `traced_attempts`) and returns them; the
      * last traced attempt's table is kept, the caller cleans it up. */
    def measure(seconds: Double, trace: Boolean, min: Int): (Seq[Attempt], Seq[Attempt]) = {
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      val untraced = mutable.ArrayBuffer.empty[Attempt]
      val traced = mutable.ArrayBuffer.empty[Attempt]
      while (untraced.size < min || elapsed < seconds) {
        val u = next(traced = false)
        u.cleanup()
        untraced += u
        if (trace) {
          val t = next(traced = true)
          if (traced.nonEmpty) traced.last.cleanup()
          traced += t
        }
      }
      rep.put("attempts", untraced.map(a => Map("wall_s" -> a.wallS, "rows" -> a.rows, "cpu_ms" -> a.cpuMs,
        "latency" -> a.latency)).toSeq)
      if (trace)
        rep.put("traced_attempts", traced.map(a => Map("wall_s" -> a.wallS, "rows" -> a.rows)).toSeq)
      (untraced.toSeq, traced.toSeq)
    }
  }

  /** One pass of the corpus through a fresh checkpoint and sink. */
  final class Attempt(spark: SparkSession, o: Opts, in: String, mfpt: Int, k: Int, traced: Boolean) {
    private val root = o.work.resolve(s"attempt$k")
    val table = new ResultTable(root.resolve("table").toString)
    var wallS = 0.0
    var cpuMs = 0.0
    var rows = 0L
    /** [commit of a micro-batch, attempt start (when all input was due), docs], ms. */
    var latency: Seq[(Long, Long, Long)] = Nil
    var plan: Seq[String] = Nil
    var layers: Map[String, Double] = Map.empty
    var triggerMs: Seq[Double] = Nil
    var appendMs: Seq[Double] = Nil
    var jobMs: Seq[Double] = Nil
    var snapshotsMs: Seq[Double] = Nil
    var readMs: Seq[Double] = Nil

    def run(): Unit = {
      val frags = StreamJob.fileSource(spark, s"$in/corpus/*", maxFilesPerTrigger = mfpt)
      val ck = root.resolve("ck").toString
      val qid = s"backfill$k"
      val calls = mutable.ArrayBuffer.empty[AppendCall]
      val gc0 = Probe.gcMs()
      val startMs = System.currentTimeMillis()
      val cpu0 = Harness.processCpuMs()
      val ((q, wall), probe) = Probe.when(traced, spark.sparkContext) {
        Harness.timed {
          val q =
            if (traced) Streams.startTraced(frags, spec, table, ck, qid, Delay, GapMs,
              Trigger.AvailableNow(), calls)
            else StreamJob.run(frags, spec, table, ck, qid, Delay, GapMs, Trigger.AvailableNow())
          q.awaitTermination()
          q
        }
      }
      wallS = wall
      cpuMs = Harness.processCpuMs() - cpu0
      plan = Probe.planShape(q)
      val ps = Probe.progress(q)
      val endOf = ps.map(p => p.batchId -> Probe.batchEndMs(p)).toMap
      val perBatch = Streams.rows(spark, table).groupBy("_batch_id")
        .agg(count(lit(1)), countDistinct("doc_id")).collect()
      rows = perBatch.map(_.getLong(1)).sum
      latency = perBatch.map(r => (endOf(r.getLong(0)), startMs, r.getLong(2))).toSeq
      if (traced) {
        layers = Probe.progressMetrics(ps) ++ probe.shuffleMetrics ++
          probe.cpuMetrics(wall, o.cpus, Probe.gcMs() - gc0) ++
          Streams.sinkLayer(table, root.resolve("table"), calls.toSeq) +
          ("source.lag_files_max" -> Streams.maxFilesPerBatch(root.resolve("ck/sources/0")).toDouble)
        triggerMs = Probe.triggerMs(ps)
        appendMs = calls.map(_.wallMs).toSeq
        jobMs = calls.map(c => probe.jobWallMs(c.span).toDouble).toSeq
        // reads of the finished table (no writer beside them, unlike the trickle's reader)
        val (snaps, reads) = Streams.timedReads(spark, table, 3)
        snapshotsMs = snaps
        readMs = reads
      }
    }

    def cleanup(): Unit = Harness.rmTree(root)
  }
}
