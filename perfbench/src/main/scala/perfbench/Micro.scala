package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData

import graft.extract.ExtractCompiler
import graft.functions.TokenKernels
import graft.gen.{Fragment, TokenGen}
import graft.model.TokenCodec
import graft.queries.TokenEngine
import graft.streaming.{AssembledDoc, StitchState}

/**
 * Layer figures of the stitch and extraction layers taken apart from the
 * stream: Spark-free `nanoTime` loops over the seed's corpus (StitchState
 * page adds and assembly; the TokenKernels extraction kernels), and the
 * extraction compiled over the stitched corpus at rest versus a scan-only
 * pass over the same files.
 */
object Micro {
  private val Reps = 5
  private val MinRepNs = 50000000L
  /** Docs of the seed's corpus window the loops run over, the same on every workload. */
  private val Docs = 20000L

  /** Sum of every pass's result, reported, so no loop can be optimised away. */
  private var checksum = 0L

  /** Median over `Reps` repetitions of ns per unit; each repetition loops
    * `pass` (which returns a checksum) until at least `MinRepNs` elapsed. */
  private def nsPer(units: Long)(pass: => Long): Double = {
    val reps = Seq.fill(Reps) {
      var n = 0
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < MinRepNs) { checksum += pass; n += 1; t = System.nanoTime() }
      (t - t0).toDouble / n / units
    }
    Harness.median(reps)
  }

  def run(spark: SparkSession, o: Opts, rep: Report): Unit = {
    val cdf = TokenGen.zipfCdf(32)
    val docs: Seq[Seq[Fragment]] = (o.docBase until o.docBase + Docs).map(i =>
      TokenGen.docFragments(i, cdf).filter(f => !f.is_dup && !f.is_late)).filter(_.nonEmpty)
    val fragToks = docs.map(_.map(_.tokens.length.toLong).sum).sum

    val addNs = nsPer(fragToks) {
      var c = 0L
      docs.foreach { fs =>
        var s = StitchState.empty
        fs.foreach(f => s = s.addPage(f.page_idx, f.tokens, f.source, f.event_time.getTime))
        c += s.tokens.length
      }
      c
    }
    val states = docs.map(_.foldLeft(StitchState.empty)((s, f) =>
      s.addPage(f.page_idx, f.tokens, f.source, f.event_time.getTime)))
    val asmNs = nsPer(fragToks)(states.map(_.assembled.length.toLong).sum)

    val tokens: Seq[ArrayData] = states.map(s => UnsafeArrayData.fromPrimitiveArray(s.assembled))
    val blocks: Seq[ArrayData] = tokens.flatMap { t =>
      val b = TokenKernels.splitBlocks(t, TokenCodec.RECORD_START)
      (0 until b.numElements()).map(b.getArray)
    }
    val fields: Seq[ArrayData] = blocks.map(TokenKernels.splitFields(_, TokenCodec.FIELD_DELIM))
    val payloads: Seq[ArrayData] = fields.flatMap { fs =>
      (0 until fs.numElements()).map(fs.getArray).filter(_.numElements() > 0).map(f =>
        UnsafeArrayData.fromPrimitiveArray(f.toIntArray().drop(1)): ArrayData)
    }
    val nTok = tokens.map(_.numElements().toLong).sum
    val blockTok = blocks.map(_.numElements().toLong).sum
    val nFields = fields.map(_.numElements().toLong).sum
    val payTok = payloads.map(_.numElements().toLong).sum
    val pattern = UnsafeArrayData.fromPrimitiveArray(Array(100, 101))
    val layers = Map(
      "stitch.add_page_ns_per_tok" -> addNs,
      "stitch.assemble_ns_per_tok" -> asmNs,
      "kernels.split_blocks_ns_per_tok" -> nsPer(nTok)(
        tokens.map(TokenKernels.splitBlocks(_, TokenCodec.RECORD_START).numElements().toLong).sum),
      "kernels.split_fields_ns_per_tok" -> nsPer(blockTok)(
        blocks.map(TokenKernels.splitFields(_, TokenCodec.FIELD_DELIM).numElements().toLong).sum),
      "kernels.payloads_for_tag_ns_per_field" -> nsPer(nFields)(
        fields.map(TokenKernels.payloadsForTag(_, TokenCodec.MIN_TAG).numElements().toLong).sum),
      "kernels.decode_join_ns_per_tok" -> nsPer(payTok)(
        payloads.map(TokenKernels.decodeJoin(_).numBytes().toLong).sum),
      "kernels.find_all_ns_per_tok" -> nsPer(payTok)(
        payloads.map(TokenKernels.findAll(_, pattern).numElements().toLong).sum))

    // extraction at rest: the same docs, stitched, as a parquet table
    import spark.implicits._
    val atRest = o.work.resolve("at_rest").toString
    docs.zip(states).map { case (fs, s) =>
      val t = s.assembled
      AssembledDoc(fs.head.doc_id, t, t.length, s.source, new Timestamp(s.maxEventMs), fs.size)
    }.toDS().write.parquet(atRest)
    def scan() = spark.read.parquet(atRest).queryExecution.toRdd.count()
    def extract() = ExtractCompiler.compile(spark.read.parquet(atRest), TokenEngine.flagshipSpec)
      .queryExecution.toRdd.count()
    scan(); extract() // untimed: compile and cache the plans
    val times = Seq.fill(5)((Harness.timed(scan())._2, Harness.timed(extract())._2))
    rep.put("micro_checksum", checksum)
    rep.put("micro", layers ++ Map(
      "extract.scan_s" -> Harness.median(times.map(_._1)),
      "extract.s" -> Harness.median(times.map(_._2))))
  }
}
