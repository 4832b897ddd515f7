package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{TokenKernels, VectorKernels}
import graft.model.TokenCodec

/** Property-based laws for the token kernels and dedup primitives —
  * each kernel is checked against a straight-line naive Scala
  * implementation over arbitrary token arrays (SURVEY §5: ScalaCheck
  * for the collapse/nil-omission/dedup laws). Pure JVM: no
  * SparkSession needed, so these run in milliseconds. */
class PropertySpec extends AnyFunSuite {

  /** Raw ScalaCheck runner (the scalatest bridge artifact is not in
    * the offline cache); fails the test with the counterexample. */
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private val tok: Gen[Int] = Gen.frequency(
    2 -> Gen.const(TokenCodec.RECORD_START),
    2 -> Gen.const(TokenCodec.FIELD_DELIM),
    3 -> Gen.choose(TokenCodec.MIN_TAG, TokenCodec.MAX_TAG),
    5 -> Gen.choose(TokenCodec.MIN_PAYLOAD, TokenCodec.VOCAB - 1))
  private val tokens: Gen[Array[Int]] = Gen.containerOf[Array, Int](tok)

  private def ad(a: Array[Int]): ArrayData = ArrayData.toArrayData(a)
  private def nested(x: Any): Seq[Array[Int]] =
    x.asInstanceOf[ArrayData].array.map(_.asInstanceOf[ArrayData].toIntArray()).toSeq

  /** Naive splitBlocks: content between RECORD_START sentinels. */
  private def naiveBlocks(toks: Array[Int]): Seq[Array[Int]] = {
    val starts = toks.indices.filter(toks(_) == TokenCodec.RECORD_START)
    if (starts.isEmpty) Seq(toks)
    else starts.zip(starts.tail :+ toks.length).map { case (s, e) => toks.slice(s + 1, e) }
  }

  /** Naive splitFields: complete delimiter-terminated runs. */
  private def naiveFields(block: Array[Int]): Seq[Array[Int]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
    var start = 0
    block.indices.foreach { i =>
      if (block(i) == TokenCodec.FIELD_DELIM) { out += block.slice(start, i); start = i + 1 }
    }
    out.toSeq
  }

  private def naiveFindAll(p: Array[Int], q: Array[Int]): Seq[Int] =
    if (q.isEmpty) Seq.empty
    else (0 to p.length - q.length).filter(i => p.slice(i, i + q.length).sameElements(q))

  test("splitBlocks kernel ≡ naive slicing for arbitrary token arrays") {
    check(Prop.forAll(tokens) { toks =>
      val got = nested(TokenKernels.splitBlocks(ad(toks), TokenCodec.RECORD_START))
      val exp = naiveBlocks(toks)
      got.size == exp.size && got.zip(exp).forall { case (a, b) => a.sameElements(b) }
    })
  }

  test("splitFields kernel ≡ naive slicing; trailing un-terminated run dropped") {
    check(Prop.forAll(tokens) { toks =>
      val got = nested(TokenKernels.splitFields(ad(toks), TokenCodec.FIELD_DELIM))
      val exp = naiveFields(toks)
      got.size == exp.size && got.zip(exp).forall { case (a, b) => a.sameElements(b) }
    })
  }

  test("blocks ++ fields round-trip: no token outside a block+field is ever emitted, none duplicated") {
    check(Prop.forAll(tokens) { toks =>
      val blocks = nested(TokenKernels.splitBlocks(ad(toks), TokenCodec.RECORD_START))
      // every emitted block token count <= input length (no duplication)
      blocks.map(_.length).sum <= toks.length
    })
  }

  test("findAll kernel ≡ naive subsequence scan (incl. overlapping matches)") {
    val pat = Gen.nonEmptyContainerOf[Array, Int](Gen.choose(100, 104))
    val hay = Gen.containerOf[Array, Int](Gen.choose(100, 104))
    check(Prop.forAll(hay, pat) { (p, q) =>
      val got = TokenKernels.findAll(ad(p), ad(q)).toIntArray().toSeq
      got == naiveFindAll(p, q)
    })
  }

  test("decodeJoin ≡ per-token base36 decode joined by spaces") {
    check(Prop.forAll(tokens) { toks =>
      TokenKernels.decodeJoin(ad(toks)).toString ==
        toks.map(TokenCodec.decodeToken).mkString(" ")
    })
  }

  test("simhash: permutation-invariant in word multiset, deterministic") {
    val words = Gen.nonEmptyListOf(Gen.identifier.map(_.take(8)))
    check(Prop.forAll(words) { ws =>
      def sig(xs: Seq[String]): Long = VectorKernels.simhash64(
        ArrayData.toArrayData(xs.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray))
      sig(ws) == sig(scala.util.Random.shuffle(ws)) && sig(ws) == sig(ws)
    })
  }

  test("cosine: symmetric, cos(v,v)=1 for nonzero v, |cos|<=1") {
    val vec = Gen.nonEmptyListOf(Gen.choose(-100, 100).map(_.toFloat / 10f))
      .map(_.toArray)
    check(Prop.forAll(vec, vec) { (a, b) =>
      def c(x: Array[Float], y: Array[Float]) = VectorKernels.cosine(
        ArrayData.toArrayData(x), ArrayData.toArrayData(y), true, true)
      val ab = c(a, b)
      val selfOk = a.forall(_ == 0f) || math.abs(c(a, a) - 1.0) < 1e-9
      math.abs(ab - c(b, a)) < 1e-12 && selfOk && math.abs(ab) <= 1.0 + 1e-12
    })
  }

  test("stitch state: page insertion order never changes assembled output (dedup idempotence)") {
    import graft.streaming.StitchState
    // one consistent byte content per page_idx (the real system's
    // invariant: a re-delivered (doc, page) is byte-identical)
    val pages = Gen.nonEmptyListOf(for {
      idx <- Gen.choose(0, 6)
      len <- Gen.choose(0, 5)
      toks <- Gen.listOfN(len, Gen.choose(64, 1000))
    } yield (idx, toks.toArray)).map(l => l.groupBy(_._1).map(_._2.head).toSeq)
    check(Prop.forAll(pages) { ps =>
      def assemble(order: Seq[(Int, Array[Int])]): Seq[Int] = {
        var s = StitchState.empty
        order.foreach { case (i, t) => s = s.addPage(i, t, "s", 0L) }
        s.assembled.toSeq
      }
      // shuffled arrival + re-delivered duplicates => same bytes
      val base = assemble(ps)
      assemble(scala.util.Random.shuffle(ps ++ ps)) == base
    })
  }
}
