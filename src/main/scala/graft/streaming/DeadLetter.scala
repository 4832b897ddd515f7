package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Kernel
import org.apache.spark.unsafe.types.UTF8String

import graft.model.TokenCodec

/**
 * Row-level error taxonomy — the recast of the reference's typed error
 * system (reference errs/errors.go:1-141 maps error classes to
 * statuses; structure.go:182 records per-task errors). Every fragment
 * gets one status from [[status]], the single definition of the three
 * rules:
 *
 *  - the stream ([[Stitch.update]]) screens each live fragment with it
 *    and fails the query on the first poisoned one, naming the
 *    fragment and its status, so bad input is loud and never reaches
 *    the result table;
 *  - the batch image ([[classify]], the `dead_letter` driver row) runs
 *    the same method as a kernel inside whole-stage codegen and counts
 *    each class.
 */
object DeadLetter {

  /** Status taxonomy (errs/errors.go analog, input_hint-shaped). */
  val Ok = "ok"
  val EmptyPayload = "empty_payload"        // null or no tokens at all
  val BadTokenCount = "bad_token_count"     // size(tokens) != n_tok
  val TokenOutOfRange = "token_out_of_range" // token outside [0, VOCAB)

  private val statuses = Seq(Ok, EmptyPayload, BadTokenCount, TokenOutOfRange)
    .map(s => s -> UTF8String.fromString(s)).toMap

  /** The status of one fragment. Order matters: the first matching
    * rule wins, mirroring the reference's error-class precedence. */
  def status(tokens: ArrayData, nTok: Int): UTF8String = {
    val n = if (tokens == null) 0 else tokens.numElements()
    if (n == 0) statuses(EmptyPayload)
    else if (n != nTok) statuses(BadTokenCount)
    else {
      var inRange = true
      var i = 0
      while (inRange && i < n) {
        val t = tokens.getInt(i)
        inRange = t >= 0 && t < TokenCodec.VOCAB
        i += 1
      }
      statuses(if (inRange) Ok else TokenOutOfRange)
    }
  }

  /** Append a `status` column ([[status]] as a kernel). */
  def classify(df: DataFrame): DataFrame =
    df.withColumn("status", Kernel.fragmentStatus(col("tokens"), col("n_tok")))
}
