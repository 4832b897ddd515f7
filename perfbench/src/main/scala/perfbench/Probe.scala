package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Spark listener used only by traced runs: task metrics per stage and
  * the span of every job, tagged with the `perfbench.span` local property
  * of the thread that submitted it. Attached for one traced section and
  * removed after it ([[Probe.when]]). */
final class Probe extends SparkListener {
  import Probe.JobSpan

  val jobs = mutable.LinkedHashMap.empty[Int, JobSpan]
  var taskRunMs, taskCpuNs, shuffleWrite, shuffleRead, fetchWaitMs, spillBytes, stagesDone = 0L
  /** Shuffle bytes read per task, by stage: the partition skew into a stage. */
  val readByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.SpanProp))).getOrElse("")
    jobs(e.jobId) = JobSpan(e.jobId, span, e.time, -1L, e.stageInfos.size)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesDone += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      val read = m.shuffleReadMetrics.totalBytesRead
      shuffleRead += read
      fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      if (read > 0) readByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += read
    }
  }

  /** Wall ms of the jobs submitted under `span`, as a union of intervals. */
  def jobWallMs(span: String): Long = synchronized {
    val iv = jobs.values.filter(j => j.span == span && j.endMs >= 0)
      .map(j => (j.startMs, j.endMs)).toSeq.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Max over mean of per-task shuffle read bytes, in the stage that read
    * the most shuffle bytes (the exchange into the stitcher, for streams). */
  def partitionSkew: Double = synchronized {
    if (readByStage.isEmpty) 1.0
    else {
      val xs = readByStage.values.maxBy(_.sum)
      xs.max.toDouble / (xs.sum.toDouble / xs.length)
    }
  }

  def shuffleMetrics: Map[String, Double] = synchronized(Map(
    "shuffle.write_bytes" -> shuffleWrite.toDouble,
    "shuffle.read_bytes" -> shuffleRead.toDouble,
    "shuffle.fetch_wait_ms" -> fetchWaitMs.toDouble,
    "shuffle.spill_bytes" -> spillBytes.toDouble,
    "shuffle.partition_skew" -> partitionSkew))

  /** CPU-layer figures over a section that lasted `wallS` on `cpus` slots. */
  def cpuMetrics(wallS: Double, cpus: Int, gcMs: Long): Map[String, Double] = synchronized(Map(
    "cpu.task_run_ms" -> taskRunMs.toDouble,
    "cpu.task_cpu_ms" -> taskCpuNs / 1e6,
    "cpu.busy_frac" -> taskRunMs / (wallS * 1000.0 * cpus),
    "jvm.gc_ms" -> gcMs.toDouble))
}

object Probe {
  val SpanProp = "perfbench.span"

  final case class JobSpan(id: Int, span: String, startMs: Long, var endMs: Long, var stages: Int)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum

  /** Run `f` with a fresh probe attached when `on` (else no listener and a
    * null probe); the listener bus is drained before the probe is detached. */
  def when[A](on: Boolean, sc: SparkContext)(f: => A): (A, Probe) =
    if (!on) (f, null)
    else {
      val p = new Probe
      sc.addSparkListener(p)
      try {
        val a = f
        drain(p)
        (a, p)
      } finally sc.removeSparkListener(p)
    }

  /** Wait (bounded) until every job seen has ended and events stop arriving. */
  private def drain(p: Probe): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val (n, open) = p.synchronized((p.stagesDone + p.jobs.size, p.jobs.values.count(_.endMs < 0)))
      if (n == last && open == 0) quiet += 1 else quiet = 0
      last = n
    }
  }

  def progress(q: StreamingQuery): Seq[StreamingQueryProgress] = q.recentProgress.toSeq

  /** Wall-clock end of a micro-batch: trigger start plus trigger duration. */
  def batchEndMs(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)

  private def dur(ps: Seq[StreamingQueryProgress], k: String): Seq[Double] =
    ps.map(p => p.durationMs.getOrDefault(k, 0L).toDouble)

  /** Trigger wall time of every micro-batch (percentiles are taken in run.py). */
  def triggerMs(ps: Seq[StreamingQueryProgress]): Seq[Double] = dur(ps, "triggerExecution")

  /** Source, stitch-state and micro-batch engine figures from progress. */
  def progressMetrics(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val st = ps.flatMap(_.stateOperators.headOption)
    Map(
      "source.input_rows" -> ps.map(_.numInputRows.toDouble).sum,
      "source.batches" -> ps.count(_.numInputRows > 0).toDouble,
      "source.latest_offset_ms" -> Harness.median(dur(ps, "latestOffset")),
      "source.get_batch_ms" -> Harness.median(dur(ps, "getBatch")),
      "stitch.state_rows_peak" -> st.map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0),
      "stitch.state_bytes_peak" -> st.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "stitch.update_ms" -> st.map(_.allUpdatesTimeMs.toDouble).sum,
      "stitch.removal_ms" -> st.map(_.allRemovalsTimeMs.toDouble).sum,
      "stitch.commit_ms" -> st.map(_.commitTimeMs.toDouble).sum,
      "stitch.dropped_reported" -> st.map(_.numRowsDroppedByWatermark.toDouble).sum,
      "batch.add_batch_ms" -> Harness.median(dur(ps, "addBatch")),
      "batch.query_planning_ms" -> Harness.median(dur(ps, "queryPlanning")),
      "batch.wal_commit_ms" -> Harness.median(dur(ps, "walCommit")),
      "batch.commit_offsets_ms" -> Harness.median(dur(ps, "commitOffsets")))
  }

  /** Operator names of the last micro-batch's physical plan, in tree order,
    * with ids, paths and expressions dropped: two queries with equal
    * shapes ran the same operators. */
  def planShape(q: StreamingQuery): Seq[String] = {
    val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    plan.collect { case n => n.nodeName }
  }
}
