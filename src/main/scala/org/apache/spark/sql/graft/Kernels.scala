package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.functions.{array, lit}
import org.apache.spark.sql.types._

import graft.functions.{TokenKernels, VectorKernels}
import graft.gen.TokenGen
import graft.model.TokenCodec
import graft.streaming.DeadLetter

/**
 * One native kernel: a static method of a kernel object (plain code in
 * [[graft.functions.TokenKernels]], [[graft.functions.VectorKernels]],
 * [[graft.gen.TokenGen]]) called through Spark's own `StaticInvoke`, so
 * generated code is one static call inside whole-stage codegen and the
 * interpreted path calls the same method. The Column API
 * ([[Kernels]]) and the SQL registry ([[GraftExtensions]]) both build
 * [[node]], so a kernel is declared here and nowhere else.
 *
 * Arguments are `inputs` followed by the literal ints named in `ints`
 * (with their SQL defaults), in the kernel method's order. `sql` is
 * empty for kernels whose constants are objects (Column API only).
 * A kernel with a [[Kernel.Vector]] input reads float and double
 * vectors alike: `method` takes one `isFloat` flag per vector after its
 * other arguments, which [[FloatOrDouble]] appends as literals.
 * A kernel yields null on a null input unless `propagateNull` is off;
 * then the method receives the null and decides.
 *
 * Lives in the org.apache.spark.sql package tree because
 * `ExpressionUtils` and `TypeCollection` are `private[sql]`.
 */
final case class Kernel(
    sql: String,
    usage: String,
    obj: AnyRef,
    method: String,
    returns: DataType,
    inputs: Seq[AbstractDataType],
    ints: Seq[(String, Option[Int])] = Nil,
    propagateNull: Boolean = true) {

  def node(args: Seq[Expression]): Expression =
    if (inputs.contains(Kernel.Vector)) FloatOrDouble(this, args)
    else invoke(args, argTypes)

  def apply(args: Column*): Column =
    ExpressionUtils.column(node(args.map(ExpressionUtils.expression)))

  private[graft] def argTypes: Seq[AbstractDataType] = inputs ++ ints.map(_ => IntegerType)

  private[graft] def invoke(args: Seq[Expression], types: Seq[AbstractDataType]): Expression =
    StaticInvoke(obj.getClass, returns, method, args, inputTypes = types,
      propagateNull = propagateNull, returnNullable = false)
}

object Kernel {
  /** A float or a double vector; never cast from one to the other. */
  val Vector: AbstractDataType = TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))
  private val Ints = ArrayType(IntegerType, containsNull = false)
  private val Nested = ArrayType(ArrayType(IntegerType))
  private val Words = ArrayType(StringType)
  private val Planes = ObjectType(classOf[Array[Array[Double]]])
  private val Longs = ObjectType(classOf[Array[Long]])

  val tokenBlocks = Kernel("token_blocks",
    "token_blocks(tokens[, record_start]) - split a token array into blocks",
    TokenKernels, "splitBlocks", ArrayType(Ints), Seq(ArrayType(IntegerType)),
    Seq("record_start" -> Some(TokenCodec.RECORD_START)))
  val tokenFields = Kernel("token_fields",
    "token_fields(block[, delim]) - split a block into tagged fields",
    TokenKernels, "splitFields", ArrayType(Ints), Seq(ArrayType(IntegerType)),
    Seq("delim" -> Some(TokenCodec.FIELD_DELIM)))
  val tokenPayloads = Kernel("token_payloads",
    "token_payloads(fields, tag) - payloads of the fields headed by tag",
    TokenKernels, "payloadsForTag", ArrayType(Ints), Seq(Nested), Seq("tag" -> None))
  val tokenDecode = Kernel("token_decode",
    "token_decode(payload) - base-36 decode to a space-joined string",
    TokenKernels, "decodeJoin", StringType, Seq(ArrayType(IntegerType)))
  val tokenDecodeAll = Kernel("token_decode_all",
    "token_decode_all(payloads[, ops]) - decode each payload, packed filter chain ops",
    TokenKernels, "decodeAll", ArrayType(StringType, containsNull = false), Seq(Nested),
    Seq("ops" -> Some(0)))
  val tokenFindAll = Kernel("token_find_all",
    "token_find_all(payload, pattern) - 0-based start offsets of the subsequence",
    TokenKernels, "findAll", Ints, Seq(ArrayType(IntegerType), ArrayType(IntegerType)))
  val tokenFindAllFlat = Kernel("token_find_all_flat",
    "token_find_all_flat(payloads, pattern) - find_all per payload, flattened",
    TokenKernels, "findAllFlat", Ints, Seq(Nested, ArrayType(IntegerType)))
  val tokenIntJoin = Kernel("token_int_join",
    "token_int_join(payloads) - decimal tokens space-joined, payloads '|'-joined",
    TokenKernels, "intJoinAll", StringType, Seq(Nested))
  val tokenFirstTagText = Kernel("", "",
    TokenKernels, "firstTagText", StringType, Seq(ArrayType(IntegerType)),
    Seq("record_start" -> None, "delim" -> None, "tag" -> None))
  val synthPage = Kernel("", "",
    TokenGen, "synthPage", Ints, Seq(StringType, ObjectType(classOf[String])))
  val graftCosine = Kernel("graft_cosine",
    "graft_cosine(a, b) - cosine similarity of two numeric arrays",
    VectorKernels, "cosine", DoubleType, Seq(Vector, Vector))
  val graftSimhash64 = Kernel("graft_simhash64",
    "graft_simhash64(words) - 64-bit SimHash of a word array",
    VectorKernels, "simhash64", LongType, Seq(Words))
  val graftShingles = Kernel("graft_shingles",
    "graft_shingles(words, n) - distinct n-word shingles",
    VectorKernels, "shingleSet", ArrayType(StringType, containsNull = false), Seq(Words),
    Seq("n" -> None))
  val graftGramHashes = Kernel("graft_gram_hashes",
    "graft_gram_hashes(words, n) - xxhash64 per n-word gram, in order",
    VectorKernels, "gramHashes", ArrayType(LongType, containsNull = false), Seq(Words),
    Seq("n" -> None))
  val graftWinnow = Kernel("graft_winnow",
    "graft_winnow(hashes, window) - winnowing fingerprint selection",
    VectorKernels, "winnowSelect", ArrayType(LongType, containsNull = false),
    Seq(ArrayType(LongType)), Seq("window" -> None))
  val hyperBucket = Kernel("", "",
    VectorKernels, "hyperBucket", LongType, Seq(Vector, Planes))
  val minhashSig = Kernel("", "",
    VectorKernels, "minhashSig", ArrayType(LongType, containsNull = false),
    Seq(Words, Longs, Longs, LongType))
  val ivfProbes = Kernel("", "",
    VectorKernels, "probeCells", Ints, Seq(Vector, Planes), Seq("n_probe" -> None))
  val fragmentStatus = Kernel("", "",
    DeadLetter, "status", StringType, Seq(ArrayType(IntegerType), IntegerType),
    propagateNull = false)

  val all: Seq[Kernel] = Seq(tokenBlocks, tokenFields, tokenPayloads, tokenDecode,
    tokenDecodeAll, tokenFindAll, tokenFindAllFlat, tokenIntJoin, tokenFirstTagText, synthPage,
    graftCosine, graftSimhash64, graftShingles, graftGramHashes, graftWinnow,
    hyperBucket, minhashSig, ivfProbes, fragmentStatus)
}

/** The float/double flags of a [[Kernel]] with [[Kernel.Vector]]
  * inputs: after analysis, each vector's element type becomes one
  * `isFloat` literal, and the optimizer swaps in a plain `StaticInvoke`. */
case class FloatOrDouble(kernel: Kernel, children: Seq[Expression])
    extends RuntimeReplaceable with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = kernel.argTypes

  override lazy val replacement: Expression = {
    val args = children ++ children.zip(kernel.inputs).collect {
      case (c, Kernel.Vector) => Literal(c.dataType.asInstanceOf[ArrayType].elementType == FloatType)
    }
    // concrete input types: the plan ships to executors, and a
    // TypeCollection is not serializable
    kernel.invoke(args, args.map(_.dataType))
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): FloatOrDouble =
    copy(children = c)
}

/** Column API of the kernels: typed Scala arguments, the same
  * [[Kernel.node]] the SQL functions build. */
object Kernels {
  private def const(v: AnyRef): Column = ExpressionUtils.column(Literal.fromObject(v))
  private def pattern(p: Seq[Int]): Column = array(p.map(lit): _*)

  def splitBlocks(tokens: Column, recordStart: Int): Column =
    Kernel.tokenBlocks(tokens, lit(recordStart))
  def splitFields(block: Column, delim: Int): Column = Kernel.tokenFields(block, lit(delim))
  def payloadsForTag(fields: Column, tag: Int): Column = Kernel.tokenPayloads(fields, lit(tag))
  def decodeJoin(payload: Column): Column = Kernel.tokenDecode(payload)
  def decodeAll(payloads: Column, ops: Int): Column = Kernel.tokenDecodeAll(payloads, lit(ops))
  def findAll(payload: Column, p: Seq[Int]): Column = Kernel.tokenFindAll(payload, pattern(p))
  def findAllFlat(payloads: Column, p: Seq[Int]): Column =
    Kernel.tokenFindAllFlat(payloads, pattern(p))
  def intJoinAll(payloads: Column): Column = Kernel.tokenIntJoin(payloads)
  def firstTagText(tokens: Column, recordStart: Int, delim: Int, tag: Int): Column =
    Kernel.tokenFirstTagText(tokens, lit(recordStart), lit(delim), lit(tag))
  /** `synth_page(key) -> array<int>`: the synthetic web's key→page
    * function (TokenGen.synthTokens), the stand-in for a stored-table
    * lookup in the details and crawl resolvers. */
  def synthPage(key: Column, ns: String): Column = Kernel.synthPage(key, const(ns))
  def cosineSim(a: Column, b: Column): Column = Kernel.graftCosine(a, b)
  def simhash64(words: Column): Column = Kernel.graftSimhash64(words)
  def shingleSet(words: Column, n: Int): Column = Kernel.graftShingles(words, lit(n))
  def gramHashes(words: Column, n: Int): Column = Kernel.graftGramHashes(words, lit(n))
  def winnowSelect(hashes: Column, window: Int): Column = Kernel.graftWinnow(hashes, lit(window))
  def hyperplaneBucket(v: Column, planes: Array[Array[Double]]): Column =
    Kernel.hyperBucket(v, const(planes))
  def minhashSig(sh: Column, a: Array[Long], b: Array[Long], p: Long): Column =
    Kernel.minhashSig(sh, const(a), const(b), lit(p))
  def ivfProbes(v: Column, cents: Array[Array[Double]], nProbe: Int): Column =
    Kernel.ivfProbes(v, const(cents), lit(nProbe))
}
