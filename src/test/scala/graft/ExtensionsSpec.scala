package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftExtensions, Kernels}
import graft.model.TokenCodec

/** SQL function surface (SparkSessionExtensions injector): every
  * registered name must resolve in spark.sql and produce exactly what
  * the Column API produces — same Expression node, so same codegen. */
class ExtensionsSpec extends SparkSuite {
  import spark.implicits._

  GraftExtensions.register(spark)

  private def same(sqlText: String, c: org.apache.spark.sql.Column,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val a = df.select(expr(sqlText).cast("string")).collect().map(_.getString(0)).toSeq
    val b = df.select(c.cast("string")).collect().map(_.getString(0)).toSeq
    assert(a == b, s"$sqlText diverged from Column API")
    assert(a.exists(_ != null), s"$sqlText vacuous (all null)")
  }

  test("token_* SQL functions match the Column API on generated docs") {
    val docs = graft.gen.TokenGen.table(spark, 50).cache()
    same("token_blocks(tokens)",
      Kernels.splitBlocks(col("tokens"), TokenCodec.RECORD_START), docs)
    same("token_fields(token_blocks(tokens)[0])",
      Kernels.splitFields(
        element_at(Kernels.splitBlocks(col("tokens"), TokenCodec.RECORD_START), 1),
        TokenCodec.FIELD_DELIM), docs)
    val fields = Kernels.splitFields(
      element_at(Kernels.splitBlocks(col("tokens"), TokenCodec.RECORD_START), 1),
      TokenCodec.FIELD_DELIM)
    same("token_payloads(token_fields(token_blocks(tokens)[0]), 3)",
      Kernels.payloadsForTag(fields, 3), docs)
    same("token_decode(tokens)", Kernels.decodeJoin(col("tokens")), docs)
    same("token_decode_all(token_payloads(token_fields(token_blocks(tokens)[0]), 3), 2)",
      Kernels.decodeAll(Kernels.payloadsForTag(fields, 3), 2), docs)
    same("token_find_all(tokens, array(100, 101))",
      Kernels.findAll(col("tokens"), Seq(100, 101)), docs)
    same("token_find_all_flat(token_payloads(token_fields(token_blocks(tokens)[0]), 3), array(100, 101))",
      Kernels.findAllFlat(Kernels.payloadsForTag(fields, 3), Seq(100, 101)), docs)
    same("token_int_join(token_payloads(token_fields(token_blocks(tokens)[0]), 3))",
      Kernels.intJoinAll(Kernels.payloadsForTag(fields, 3)), docs)
    docs.unpersist()
  }

  test("graft_* SQL functions match the Column API") {
    val txt = Seq(
      ("d1", "the quick brown fox jumps over the lazy dog"),
      ("d2", "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
      .withColumn("w", split(col("text"), " "))
    same("graft_simhash64(w)", Kernels.simhash64(col("w")), txt)
    same("graft_shingles(w, 3)", Kernels.shingleSet(col("w"), 3), txt)
    same("graft_gram_hashes(w, 3)", Kernels.gramHashes(col("w"), 3), txt)
    same("graft_winnow(graft_gram_hashes(w, 3), 4)",
      Kernels.winnowSelect(Kernels.gramHashes(col("w"), 3), 4), txt)

    val emb = Seq((1, Array(1.0f, 0.0f), 2, Array(0.6f, 0.8f)))
      .toDF("i", "a", "j", "b")
    same("graft_cosine(a, b)", Kernels.cosineSim(col("a"), col("b")), emb)
  }

  test("float/double dispatch: cosine on every element-type pair; buckets and probes agree on a double copy") {
    // values exact in float, so every pair must equal the double oracle
    val rows = Seq(
      (Array(1.0, 0.0, 2.0), Array(0.5, 0.25, -1.5)),
      (Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0)),
      (Array(3.0, 4.0, 0.0), Array(3.0, 4.0, 0.0)),
      (Array(-2.0, 0.5, 8.0), Array(0.0, 0.0, 0.0)))
    def oracle(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = a.map(x => x * x).sum
      val nb = b.map(x => x * x).sum
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = rows.map { case (a, b) => oracle(a, b) }
    // an RDD, not a local relation, so the optimizer cannot fold the
    // projection away before the plan is checked
    val vecs = spark.sparkContext
      .parallelize(rows.map { case (a, b) => (a, b, a.map(_.toFloat), b.map(_.toFloat)) }, 1)
      .toDF("ad", "bd", "af", "bf")
    for ((l, r, flags) <- Seq(("af", "bf", ", true, true)"), ("ad", "bd", ", false, false)"),
        ("af", "bd", ", true, false)"), ("ad", "bf", ", false, true)"));
        c <- Seq(Kernels.cosineSim(col(l), col(r)), expr(s"graft_cosine($l, $r)"))) {
      val q = vecs.select(c)
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("VectorKernels.cosine(") && plan.contains(flags) &&
        !plan.toLowerCase.contains("cast("),
        s"$l x $r: expected cosine(...$flags without casts:\n$plan")
      assert(q.collect().map(_.getDouble(0)).toSeq == want, s"$l x $r diverged from the oracle")
    }

    val rnd = new scala.util.Random(7)
    val planes = Array.fill(6, 8)(rnd.nextGaussian())
    val cents = Array.fill(5, 8)(rnd.nextGaussian())
    val vf = Seq.fill(40)(Array.fill(8)(rnd.nextGaussian().toFloat)) :+ Array.fill(8)(0f)
    val emb = vf.map(v => (v, v.map(_.toDouble))).toDF("vf", "vd")
    def both(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      emb.select(f(col("vf")).cast("string"), f(col("vd")).cast("string")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
    for (got <- Seq(both(Kernels.hyperplaneBucket(_, planes)), both(Kernels.ivfProbes(_, cents, 3)))) {
      assert(got.forall { case (f, d) => f == d }, s"float and double forms diverged: $got")
      assert(got.map(_._1).distinct.size > 1, s"vacuous: $got")
    }
  }

  test("a full extraction is expressible in ONE spark.sql statement") {
    graft.gen.TokenGen.table(spark, 30).createOrReplaceTempView("docs_sql")
    val got = spark.sql(
      """SELECT doc_id, b.block_idx,
        |  token_decode_all(token_payloads(token_fields(b.bt), 3), 2) AS names
        |FROM docs_sql
        |LATERAL VIEW posexplode(token_blocks(tokens)) b AS block_idx, bt
        |WHERE size(token_payloads(token_fields(b.bt), 3)) > 0
        |ORDER BY doc_id, block_idx""".stripMargin)
    val viaCompiler = graft.extract.ExtractCompiler.compile(
      graft.gen.TokenGen.table(spark, 30),
      graft.model.ExtractionSpec("sqlcheck", Seq(graft.model.FieldSpec(
        "Names", selector = 3, types = Seq(graft.model.ExtractorType.Text),
        filters = Seq(graft.model.TextFilter.Lower)))))
      .filter(col("Names_text").isNotNull)
      .orderBy(col("doc_id"), col("block_idx"))
    val a = got.select(col("doc_id"), col("block_idx"), col("names").cast("string"))
      .collect().map(_.toString).toSeq
    val b = viaCompiler.select(col("doc_id"), col("block_idx"),
      col("Names_text").cast("string")).collect().map(_.toString).toSeq
    assert(a.nonEmpty && a == b)
  }

  test("the injector class registers every function on a fresh SparkSessionExtensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new org.apache.spark.sql.graft.GraftExtensions().apply(ext) // must not throw
  }

  test("literal-int argument contract is enforced") {
    val docs = graft.gen.TokenGen.table(spark, 5)
    docs.createOrReplaceTempView("docs_badarg")
    val e = intercept[Exception] {
      spark.sql("SELECT token_payloads(token_fields(tokens), n_tok) FROM docs_badarg")
        .collect()
    }
    assert(e.getMessage.contains("literal"), s"unexpected: ${e.getMessage}")
  }
}
