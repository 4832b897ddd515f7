package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.gen.{Fragment, TokenGen}
import graft.model.TokenCodec
import graft.queries.TokenEngine
import graft.sink.ResultTable
import graft.streaming.StreamJob

/**
 * stream_trickle: an open loop. One release thread moves pre-written
 * fragment files into the source directory on a fixed schedule (one file
 * every `PeriodMs`), whatever the engine does; the pipeline runs with a
 * ProcessingTime trigger. Every doc has several pages, released in
 * consecutive files, so sessions stay open across micro-batches; the last
 * page of a few docs carries an event time an hour old and must be dropped
 * as late. One closed-loop reader calls `table.snapshots()` and
 * `table.read(spark).count()` with a fixed think time.
 *
 * A fragment's event time is its release slot's due time (on the corpus
 * clock), so a doc's latency is the commit of its micro-batch minus the due
 * time of its last on-time page, minus the watermark delay and session gap
 * it must wait by design.
 */
object Trickle {
  val PeriodMs = 200L
  val DelayMs = 1000L
  val GapMs = 1000L
  val ThinkMs = 200L
  /** Share of docs whose last page is released an hour late, one in 50. */
  val LateEvery = 50
  private val spec = TokenEngine.flagshipSpec
  private val E0 = TokenGen.BASE_EPOCH_MS

  /** One released doc: its pages' slots, which page (if any) is late, and
    * what the sink must hold for it. */
  final case class Doc(id: String, slots: Seq[Int], latePage: Option[Int], rows: Long, pages: Int) {
    def lastDueSlot: Int = slots.zipWithIndex.filterNot(s => latePage.contains(s._2)).map(_._1).max
  }

  def run(spark: SparkSession, o: Opts, rep: Report): Double = {
    import spark.implicits._
    val slots = (o.seconds * 1000 / PeriodMs).toInt
    val cdf = TokenGen.zipfCdf(32)
    val rng = new TokenGen.Rng(o.seed * 0x9E3779B97F4A7C15L + 7)
    // indices 0 mod 10 are TokenGen's multi-page docs (never duplicated, never late)
    val frags = mutable.ArrayBuffer.empty[(Int, Fragment)]
    val docs = (0L until o.docs).map { j =>
      val fs = TokenGen.docFragments(o.docBase + 10 * j, cdf)
      val start = (j * (slots - 4) / o.docs).toInt
      val late =
        if (fs.size >= 2 && start >= slots / 4 && rng.nextInt(LateEvery) == 0) Some(fs.size - 1)
        else None
      fs.zipWithIndex.foreach { case (f, k) =>
        val slot = start + k
        val ts = E0 + slot * PeriodMs - (if (late.contains(k)) 3600000L else 0L)
        frags += ((slot, f.copy(event_time = new java.sql.Timestamp(ts), is_late = late.contains(k))))
      }
      val onTime = fs.zipWithIndex.filterNot(f => late.contains(f._2)).map(_._1)
      val blocks = onTime.map(_.tokens.count(_ == TokenCodec.RECORD_START).toLong).sum
      Doc(fs.head.doc_id, fs.indices.map(start + _), late, math.max(blocks, 1L), onTime.size)
    }
    // the flush file: its event time closes every session
    val flushSlot = slots
    frags += ((flushSlot, Fragment("~flush", Array(2), 1, "flush",
      new java.sql.Timestamp(E0 + flushSlot * PeriodMs + 3600000L), 0, 0, false, false)))
    val pre = o.work.resolve("prewritten")
    frags.toSeq.toDF("slot", "f").select(col("slot"), col("f.*"))
      .coalesce(1).write.partitionBy("slot").parquet(pre.toString)
    val slotFiles: Map[Int, Seq[Path]] = (0 to flushSlot)
      .filter(s => Files.isDirectory(pre.resolve(s"slot=$s")))
      .map(s => s -> Streams.listFiles(pre.resolve(s"slot=$s")).filter(_.toString.endsWith(".parquet"))).toMap

    val (warmDir, warmExpected) = warm(spark, o)
    val setupS = Harness.uptimeS()

    val src = Files.createDirectories(o.work.resolve("src"))
    val root = o.work.resolve("trickle")
    val table = new ResultTable(root.resolve("table").toString)
    val calls = mutable.ArrayBuffer.empty[AppendCall]
    val source = StreamJob.fileSource(spark, src.toString, maxFilesPerTrigger = 100000)
    val trigger = Trigger.ProcessingTime(PeriodMs)
    val cpu0 = Harness.cpuJiffies()
    val procCpu0 = Harness.processCpuMs()
    val gc0 = Probe.gcMs()
    val ((q, t0, lateness, reads), probe) = Probe.when(o.trace, spark.sparkContext) {
      val q =
        if (o.trace) Streams.startTraced(source, spec, table, root.resolve("ck").toString,
          "trickle", s"$DelayMs milliseconds", GapMs, trigger, calls)
        else StreamJob.run(source, spec, table, root.resolve("ck").toString,
          "trickle", s"$DelayMs milliseconds", GapMs, trigger)
      val t0 = System.currentTimeMillis() + 500L
      val releaser = new Releaser(t0, slotFiles, src)
      val reader = new Reader(spark, table, releaser)
      releaser.start(); reader.start()
      releaser.join(); reader.join()
      awaitWatermark(q, E0 + flushSlot * PeriodMs + 3600000L - DelayMs, rep)
      q.stop()
      (q, t0, releaser.latenessMs.toSeq, reader)
    }
    if (reads.error != null) throw reads.error
    rep.stealSince(cpu0)
    rep.put("cpu_ms", Harness.processCpuMs() - procCpu0)

    // the sink, per doc
    val batches = Probe.progress(q).filter(_.durationMs.containsKey("addBatch"))
    val endOf = batches.map(p => p.batchId -> Probe.batchEndMs(p)).toMap
    val got = Streams.rows(spark, table).groupBy("doc_id")
      .agg(count(lit(1)), min("_batch_id"), max("_batch_id"), min("n_frags"), max("n_frags"))
      .collect().map(r => r.getString(0) -> r).toMap
    // [commit of the doc's micro-batch, due time of its last on-time page], ms
    val commits = mutable.ArrayBuffer.empty[(Long, Long)]
    var lateFound = 0
    var rows = 0L
    docs.foreach { d =>
      got.get(d.id) match {
        case None => rep.check(s"doc ${d.id} committed", ok = false, "missing from the sink")
        case Some(r) =>
          val (n, b0, b1, f0, f1) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5))
          if (d.latePage.isDefined && f1 > d.pages) lateFound += 1
          rep.check(s"doc ${d.id} committed once, without late pages",
            n == d.rows && b0 == b1 && f0 == d.pages && f1 == d.pages,
            s"rows $n (want ${d.rows}), batches $b0..$b1, pages $f0..$f1 (want ${d.pages})")
          rows += n
          commits += ((endOf(b0), t0 + d.lastDueSlot * PeriodMs))
      }
    }
    val unexpected = got.keySet -- docs.map(_.id)
    rep.check("no doc outside the released set", unexpected.isEmpty, unexpected.take(5).mkString(","))
    val lastEnd = endOf.values.max
    rep.put("docs", docs.size)
    rep.put("rows", rows)
    rep.put("t0_ms", t0)
    rep.put("last_commit_ms", lastEnd)
    rep.put("delay_ms", DelayMs)
    rep.put("gap_ms", GapMs)
    rep.put("doc_commits", commits.toSeq)
    rep.put("samples.sink.read_ms", reads.readMs.toSeq)
    rep.put("samples.sink.snapshots_ms", reads.snapshotsMs.toSeq)
    reads.checks.foreach { case (ok, detail) => rep.check("reader count never decreases", ok, detail) }
    rep.put("gen_late_ms_max", lateness.max)

    if (o.trace) {
      val lateReleased = docs.count(_.latePage.isDefined)
      val wallS = (lastEnd - t0) / 1000.0
      rep.put("layers", Probe.progressMetrics(batches) ++ probe.shuffleMetrics ++
        probe.cpuMetrics(wallS, o.cpus, Probe.gcMs() - gc0) ++
        Streams.sinkLayer(table, root.resolve("table"), calls.toSeq) ++ Map(
          "source.lag_files_max" -> Streams.maxFilesPerBatch(root.resolve("ck/sources/0")).toDouble,
          "stitch.dropped_observed" -> (lateReleased - lateFound).toDouble,
          "stitch.event_time_mismatch_rows" -> Streams.oracleCheck(spark,
            frags.map(_._2).filter(f => !f.is_late && f.doc_id != "~flush").toSeq.toDS(), table, rep)))
      rep.put("samples.batch.trigger_ms", Probe.triggerMs(batches))
      rep.put("samples.sink.append_ms", calls.map(_.wallMs).toSeq)
      rep.put("samples.sink.job_ms", calls.map(c => probe.jobWallMs(c.span).toDouble).toSeq)
      // The whole-pipeline figures the open loop cannot give: untraced and
      // traced AvailableNow passes over the warm-up corpus, alternated (the
      // local[nproc] rate for scaling_eff_1to4, and the tracing overhead;
      // run.py runs the same corpus at local[1]), and the Spark-free
      // stitch and kernel loops.
      val (_, last) = new Backfill.Attempts(spark, o, warmDir, warmExpected, rep)
        .measure(seconds = 0, trace = true, min = 3)
      last.last.cleanup()
      Micro.run(spark, o, rep)
    }
    setupS
  }

  /** Untimed warm-up: AvailableNow passes over a backfill corpus with this
    * workload's watermark delay and gap, each followed by table reads, until
    * the JIT has compiled the pipeline's hot paths. Returns the corpus
    * directory and its expected rows. */
  private def warm(spark: SparkSession, o: Opts): (Path, Long) = {
    val dir = o.work.resolve("warm")
    val expected = Backfill.stage(spark, o.docBase + 10 * o.docs, 5000L, 2 * o.cpus, dir)
    for (k <- 1 to o.warm) {
      val root = o.work.resolve(s"warm$k")
      val table = new ResultTable(root.resolve("table").toString)
      val q = StreamJob.run(StreamJob.fileSource(spark, s"$dir/corpus/*", 100000),
        spec, table, root.resolve("ck").toString, s"warm$k", s"$DelayMs milliseconds", GapMs,
        Trigger.AvailableNow())
      q.awaitTermination()
      (1 to 3).foreach(_ => { table.snapshots(); table.read(spark).count() })
      require(Streams.rows(spark, table).count() == expected, "warm-up pass lost rows")
      Harness.rmTree(root)
    }
    (dir, expected)
  }

  /** Waits until a micro-batch ran with the watermark at `wm` or later: the
    * batch after the flush, which emits and commits every remaining doc. */
  private def awaitWatermark(q: StreamingQuery, wm: Long, rep: Report): Unit = {
    val deadline = System.nanoTime() + 60000000000L
    def reached = Probe.progress(q).exists(p =>
      Option(p.eventTime.get("watermark")).exists(w => Instant.parse(w).toEpochMilli >= wm))
    while (!reached && System.nanoTime() < deadline) {
      q.exception.foreach(e => throw e)
      Thread.sleep(20)
    }
    rep.check("stream drained within 60 s of the last release", reached, "watermark never passed the flush")
  }

  /** Moves each slot's files into the source directory at its due time. */
  final class Releaser(t0: Long, files: Map[Int, Seq[Path]], src: Path) extends Thread("perfbench-release") {
    val latenessMs = mutable.ArrayBuffer.empty[Double]
    setDaemon(true)
    override def run(): Unit =
      for (slot <- files.keys.toSeq.sorted) {
        val due = t0 + slot * PeriodMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        files(slot).foreach { f =>
          val to = src.resolve(f"s$slot%05d-${f.getFileName}")
          Files.move(f, to, StandardCopyOption.ATOMIC_MOVE)
          Files.setLastModifiedTime(to, FileTime.fromMillis(System.currentTimeMillis()))
        }
        latenessMs += (System.currentTimeMillis() - due).toDouble
      }
  }

  /** Closed-loop reader of the sink table until the releaser is done. */
  final class Reader(spark: SparkSession, table: ResultTable, releaser: Thread) extends Thread("perfbench-reader") {
    val readMs = mutable.ArrayBuffer.empty[Double]
    val snapshotsMs = mutable.ArrayBuffer.empty[Double]
    val checks = mutable.ArrayBuffer.empty[(Boolean, String)]
    @volatile var error: Throwable = null
    setDaemon(true)
    override def run(): Unit =
      try {
        var last = 0L
        while (releaser.isAlive) {
          val t0 = System.nanoTime()
          val snaps = table.snapshots()
          val t1 = System.nanoTime()
          // an empty table reads as a schema-less frame: only reads of a
          // committed table are timed
          if (snaps.nonEmpty) {
            val n = table.read(spark).count()
            val t2 = System.nanoTime()
            snapshotsMs += (t1 - t0) / 1e6
            readMs += (t2 - t0) / 1e6
            checks += ((n >= last, s"read $n rows after $last"))
            last = n
          }
          Thread.sleep(ThinkMs)
        }
      } catch { case e: Throwable => error = e }
  }
}
