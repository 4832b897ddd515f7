package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.gen.Fragment
import graft.model.ExtractionSpec
import graft.queries.TokenEngine
import graft.sink.ResultTable
import graft.streaming.{Stitch, StreamJob}

/** One `ResultTable.appendBatch` call seen by the traced pipeline. */
final case class AppendCall(batchId: Long, wallMs: Double, span: String)

/** The traced pipeline and helpers shared by the stream workloads
  * (untraced runs call `StreamJob.run` itself). */
object Streams {

  /** Traced: the same chain StreamJob.run builds (limitPages → Stitch.stitch
    * → extractStage → foreachBatch(appendBatch)), assembled from its public
    * pieces so every appendBatch call can be timed and its Spark jobs tagged
    * with a span. The benchmark checks that both plans have the same shape. */
  def startTraced(frags: Dataset[Fragment], spec: ExtractionSpec, table: ResultTable,
      ck: String, qid: String, delay: String, gapMs: Long, trigger: Trigger,
      calls: mutable.ArrayBuffer[AppendCall]): StreamingQuery = {
    val assembled = Stitch.stitch(StreamJob.limitPages(frags, spec), delay, gapMs, fused = true)
    val extracted = StreamJob.extractStage(assembled, spec)
    val sc = frags.sparkSession.sparkContext
    val append: (DataFrame, Long) => Unit = { (df, batchId) =>
      val span = s"$qid/append/$batchId"
      sc.setLocalProperty(Probe.SpanProp, span)
      val t0 = System.nanoTime()
      try table.appendBatch(qid)(df, batchId)
      finally sc.setLocalProperty(Probe.SpanProp, null)
      val ms = (System.nanoTime() - t0) / 1e6
      calls.synchronized(calls += AppendCall(batchId, ms, span))
    }
    extracted.writeStream
      .queryName(qid)
      .outputMode("append")
      .option("checkpointLocation", ck)
      .trigger(trigger)
      .foreachBatch(append)
      .start()
  }

  /** Rows of a finished table without the flush docs (doc ids "~…"). */
  def rows(spark: SparkSession, table: ResultTable): DataFrame =
    table.read(spark).filter(!col("doc_id").startsWith("~"))

  /** Token arrays and every extracted column of `table` equal
    * StreamJob.batchOracle over `frags`, the on-time fragments that went in.
    * `event_time` is compared apart: the stitcher keeps whichever copy of a
    * duplicated page it meets first in a micro-batch, while the oracle keeps
    * the earliest, so the rows of a duplicated doc can differ there only;
    * their number is returned as a layer figure, not counted as a failure. */
  def oracleCheck(spark: SparkSession, frags: Dataset[Fragment], table: ResultTable, rep: Report): Double = {
    val oracle = StreamJob.batchOracle(spark, frags, TokenEngine.flagshipSpec)
    val sink = rows(spark, table).select(oracle.columns.map(col).toSeq: _*)
    val cols = oracle.columns.filter(_ != "event_time").map(col).toSeq
    val extra = sink.select(cols: _*).exceptAll(oracle.select(cols: _*)).count()
    val missing = oracle.select(cols: _*).exceptAll(sink.select(cols: _*)).count()
    rep.check("sink equals StreamJob.batchOracle (token arrays and extracted columns)",
      extra == 0 && missing == 0, s"$extra rows not in the oracle, $missing oracle rows missing")
    sink.exceptAll(oracle).count().toDouble
  }

  /** `n` timed reads of a table: (ms of each `snapshots()` call, ms of each
    * `snapshots()` plus `read(spark).count()`). */
  def timedReads(spark: SparkSession, table: ResultTable, n: Int): (Seq[Double], Seq[Double]) =
    Seq.fill(n) {
      val t0 = System.nanoTime()
      table.snapshots()
      val t1 = System.nanoTime()
      table.read(spark).count()
      ((t1 - t0) / 1e6, (System.nanoTime() - t0) / 1e6)
    }.unzip

  def listFiles(d: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(d))(_.iterator().asScala.toSeq.sortBy(_.toString))

  /** Most files any one micro-batch read, from the file source's own log
    * (`<checkpoint>/sources/0`). */
  def maxFilesPerBatch(log: Path): Int = {
    val batchOf = "\"batchId\":(\\d+)".r
    val pathOf = "\"path\":\"([^\"]+)\"".r
    val seen = mutable.HashMap.empty[Long, mutable.Set[String]]
    listFiles(log).filterNot(_.getFileName.toString.startsWith(".")).foreach { f =>
      Files.readAllLines(f).asScala.foreach { line =>
        for (b <- batchOf.findFirstMatchIn(line); p <- pathOf.findFirstMatchIn(line))
          seen.getOrElseUpdate(b.group(1).toLong, mutable.Set.empty) += p.group(1)
      }
    }
    seen.values.map(_.size).maxOption.getOrElse(0)
  }

  /** Sink-layer counts and sizes of a traced run. Per-call times go to
    * run.py as raw samples (append wall, and the Spark job wall inside it). */
  def sinkLayer(table: ResultTable, root: java.nio.file.Path, calls: Seq[AppendCall]): Map[String, Double] = {
    val (bytes, files) = Harness.treeSize(root.resolve("data"))
    Map(
      "sink.commits" -> calls.size.toDouble,
      "sink.commit_log_entries" -> table.snapshots().size.toDouble,
      "sink.bytes_written" -> bytes.toDouble,
      "sink.files_written" -> files.toDouble)
  }
}
