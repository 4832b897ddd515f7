package org.apache.spark.sql.graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/**
 * SQL surface for the engine's native kernels — the
 * `SparkSessionExtensions` injector (SURVEY §2.10): with
 * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
 * (or [[GraftExtensions.register]] on a live session) every [[Kernel]]
 * with a SQL name is callable from `spark.sql(...)`/`expr(...)`, so a
 * user of the reference can write the whole extraction in SQL — the
 * declarative analog of the reference's selector strings — instead of
 * going through the Scala spec compiler. The functions are derived
 * from the [[Kernel]] table and build the same node the Column API
 * ([[Kernels]]) builds, so they inline into whole-stage codegen
 * exactly like their Column forms.
 *
 * Naming: `token_*` = extraction kernels (TokenKernels),
 * `graft_*` = vector/dedup kernels (VectorKernels).
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {

  /** Int from a foldable literal argument (tags, delimiters, window
    * sizes are plan-time constants in every kernel — same contract as
    * the Column API's Scala-Int parameters). */
  private def intArg(e: Expression, fn: String, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ if e.foldable && e.dataType == IntegerType =>
      e.eval() match {
        // a foldable NULL (e.g. CAST(NULL AS INT)) evals to null;
        // null.asInstanceOf[Int] would silently unbox to 0 — i.e. a
        // structural-token tag — instead of rejecting the argument
        case v: java.lang.Integer => v.intValue()
        case _ => throw new IllegalArgumentException(
          s"$fn: $what must be a non-null literal int, got $e")
      }
    case _ => throw new IllegalArgumentException(
      s"$fn: $what must be a literal int, got $e")
  }

  /** SQL arguments → the kernel's node: its inputs, then each literal
    * int or its default. */
  private def build(k: Kernel)(args: Seq[Expression]): Expression = {
    val n = k.inputs.length
    val min = n + k.ints.count(_._2.isEmpty)
    val max = n + k.ints.length
    require(args.length >= min && args.length <= max,
      s"${k.sql} expects ${if (min == max) s"$min" else s"$min or $max"} arguments, " +
        s"got ${args.length}")
    val ints = k.ints.zipWithIndex.map { case ((what, default), i) =>
      Literal(args.lift(n + i).map(intArg(_, k.sql, what)).orElse(default).get)
    }
    k.node(args.take(n) ++ ints)
  }

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Every registered function; shared by the extensions injector and
    * [[register]]. */
  val functions: Seq[FunctionDescription] = Kernel.all.filter(_.sql.nonEmpty).map { k =>
    (FunctionIdentifier(k.sql),
      new ExpressionInfo(classOf[Kernel].getName, null, k.sql, k.usage, "", "", "", "", "", "", ""),
      build(k) _)
  }

  /** Register into an already-built session (tests, notebooks, the
    * driver contract's sessions — which are constructed without
    * `spark.sql.extensions`). Idempotent: re-registration replaces. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
