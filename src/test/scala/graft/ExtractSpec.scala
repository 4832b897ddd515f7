package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.extract.ExtractCompiler
import graft.gen.TokenGen
import graft.model._
import graft.queries.TokenEngine

/** Catalyst extraction compiler vs the straight-line Scala oracle —
  * the engine's core correctness gate (SURVEY §7.2 minimum slice). */
class ExtractSpec extends SparkSuite {
  import spark.implicits._

  private def normalize(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.map(normalize).toList
    case i: Integer                 => i.intValue()
    case other                      => other
  }

  test("extraction matches Scala oracle on 300 generated docs (token-array equality)") {
    val spec = TokenEngine.flagshipSpec
    val docs = TokenGen.table(spark, 300).cache()
    val got = ExtractCompiler.compile(docs, spec)
      .orderBy(col("doc_id"), col("block_idx"))
      .collect()

    // oracle: run straight-line semantics per doc
    val inputs = docs.select("doc_id", "tokens").as[(String, Array[Int])]
      .collect().sortBy(_._1)
    val expected = inputs.flatMap { case (docId, toks) =>
      ScalaOracle.run(toks, spec).map { case (bi, rec) => (docId, bi, rec) }
    }

    assert(got.length == expected.length, "block count mismatch")
    got.zip(expected).foreach { case (row, (docId, bi, rec)) =>
      assert(row.getAs[String]("doc_id") == docId)
      assert(row.getAs[Int]("block_idx") == bi)
      // every part column: value equality incl. token-array equality
      for (part <- Seq("Names_text", "Names_tokens", "Names_count", "Names_const",
                       "Images_text", "Images_count")) {
        val gotV = Option(row.getAs[Any](part)).map(normalize)
        val expV = rec.get(part).map(normalize)
        assert(gotV == expV, s"$docId block $bi col $part: got=$gotV exp=$expV")
      }
    }
  }

  test("unknown extractor type is skipped, known ones survive") {
    val cols = TokenEngine.extractFlat(spark, "/root/testdata/sf0.001").columns.toSet
    assert(!cols.exists(_.contains("unknownSelectorType")))
    assert(cols.contains("Names_text") && cols.contains("Images_count"))
  }

  test("token-table cache: docsFor removes a dead writer's tmp table, never a live one's") {
    // a pid whose process has exited, and this JVM's own (live) pid
    val exited = new ProcessBuilder("true").start()
    exited.waitFor()
    val dead = TokenEngine.tableBase.resolve(s"graft-tokens-v1-n2000.tmp-${exited.pid()}")
    val live = TokenEngine.tableBase.resolve(
      s"graft-tokens-v1-n1.tmp-${ProcessHandle.current().pid()}")
    try {
      for (d <- Seq(dead, live)) {
        java.nio.file.Files.createDirectories(d)
        java.nio.file.Files.writeString(d.resolve("part-0"), "x")
      }
      TokenEngine.docsFor(spark, "sf0.001")
      assert(!java.nio.file.Files.exists(dead), s"$dead survived docsFor")
      assert(java.nio.file.Files.exists(live), s"$live (live owner) was removed")
    } finally Seq(dead, live).foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
  }

  test("nil-omission: zero matches -> null column; includeIfEmpty -> empty") {
    // doc with a single block containing only tag 5
    val docs = Seq(("d1", Array(2, 5, 100, 1), 4, "s1")).toDF("doc_id", "tokens", "n_tok", "source")
    val spec = ExtractionSpec("t", Seq(
      FieldSpec("A", selector = 3, types = Seq(ExtractorType.Text, ExtractorType.Count)),
      FieldSpec("B", selector = 3, types = Seq(ExtractorType.Count), includeIfEmpty = true),
      FieldSpec("C", selector = 5, types = Seq(ExtractorType.Text))))
    val r = ExtractCompiler.compile(docs, spec).collect().head
    assert(r.isNullAt(r.fieldIndex("A_text")), "A_text should be nil-omitted")
    assert(r.isNullAt(r.fieldIndex("A_count")), "A_count should be nil-omitted")
    assert(r.getAs[Int]("B_count") == 0, "B_count includeIfEmpty -> 0")
    assert(r.getAs[scala.collection.Seq[String]]("C_text") == Seq("2S"),
      s"C_text decode: ${r.getAs[Any]("C_text")}") // 100 base36 = 2S
  }

  test("scalar/list collapse + nil-omission at the JSON encoder boundary") {
    // block: tag3 one field (scalar), tag4 two fields (list), tag5 absent
    val docs = Seq(
      ("d1", Array(2, 3, 100, 1, 4, 200, 1, 4, 300, 301, 1), 11, "s1")
    ).toDF("doc_id", "tokens", "n_tok", "source")
    val spec = ExtractionSpec("t", Seq(
      FieldSpec("A", 3, Seq(ExtractorType.Text)),
      FieldSpec("B", 4, Seq(ExtractorType.Text)),
      FieldSpec("Z", 5, Seq(ExtractorType.Text))))
    val out = ExtractCompiler.compile(docs, spec)
      .select("A_text", "B_text", "Z_text")
    val json = graft.sink.RecordEncoder.toJsonRecords(out).collect().head
    // 100=2S 200=5K 300=8C 301=8D in base36
    assert(json == """{"A_text":"2S","B_text":["5K","8C 8D"]}""", json)
    val csv = graft.sink.RecordEncoder.toCsvLines(out).collect().head
    assert(csv == "2S,5K;8C 8D,", s"csv: $csv") // null -> empty cell, arrays ;-joined
    assert(graft.sink.RecordEncoder.csvHeader(out) == "A_text,B_text,Z_text")
    val xml = graft.sink.RecordEncoder.toXmlRecords(out).collect().head
    assert(xml == "<item><A_text>2S</A_text><B_text>5K</B_text>" +
      "<B_text>8C 8D</B_text></item>", s"xml: $xml") // repeated elems, nil omitted
  }

  test("PaginateResults grouped encoding: blocks nested per page, CSV stays flat") {
    // reference structure.go:84-91: paginateResults groups blocks per
    // page for JSON/XML only; rows arrive page-interleaved and out of
    // block order to pin the exchange+sort grouping
    val rows = Seq(
      ("p2", 0, "b", null), ("p1", 1, "y", "v1"), ("p2", 1, null, "v2"),
      ("p1", 0, "x", null))
      .toDF("page", "block_idx", "A_text", "B_text")
    val json = graft.sink.RecordEncoder
      .toJsonPages(rows, "page", "block_idx").collect().sorted
    assert(json.toSeq == Seq(
      """[{"A_text":"x"},{"A_text":"y","B_text":"v1"}]""",
      """[{"A_text":"b"},{"B_text":"v2"}]""").sorted, json.mkString("\n"))
    val xml = graft.sink.RecordEncoder
      .toXmlPages(rows, "page", "block_idx").collect().sorted
    assert(xml.toSeq == Seq(
      "<page><item><A_text>x</A_text></item>" +
        "<item><A_text>y</A_text><B_text>v1</B_text></item></page>",
      "<page><item><A_text>b</A_text></item>" +
        "<item><B_text>v2</B_text></item></page>").sorted, xml.mkString("\n"))
    // CSV contract: always the flat combined list (structure.go:90)
    val csv = graft.sink.RecordEncoder.toCsvLines(rows.select("A_text", "B_text"))
      .collect().toSet
    assert(csv == Set("x,", "y,v1", "b,", ",v2"), csv.toString)

    // binary page key: each deserialized row yields a fresh
    // Array[Byte] instance, so grouping must use deep equality —
    // reference-equality would split every page into 1-block pages
    val binRows = Seq(
      (Array[Byte](1, 2), 0, "a"), (Array[Byte](3), 0, "c"),
      (Array[Byte](1, 2), 1, "b"))
      .toDF("page", "block_idx", "A_text")
    val binJson = graft.sink.RecordEncoder
      .toJsonPages(binRows, "page", "block_idx").collect().sorted
    assert(binJson.toSeq == Seq(
      """[{"A_text":"a"},{"A_text":"b"}]""",
      """[{"A_text":"c"}]""").sorted, binJson.mkString("\n"))
  }

  test("spec validation reproduces reference error cases") {
    val docs = Seq(("d1", Array(2, 3, 100, 1), 4, "s1")).toDF("doc_id", "tokens", "n_tok", "source")
    intercept[SpecException] {
      ExtractCompiler.compile(docs, ExtractionSpec("e", Nil))
    }
    intercept[SpecException] {
      ExtractCompiler.compile(docs, ExtractionSpec("e", Seq(
        FieldSpec("", 3, Seq(ExtractorType.Text)))))
    }
    intercept[SpecException] { // all types unknown -> no parts found
      ExtractCompiler.compile(docs, ExtractionSpec("e", Seq(
        FieldSpec("A", 3, Seq(ExtractorType.Unknown("nope"))))))
    }
  }

  test("token pattern positions match oracle") {
    val payload = Array(100, 101, 99, 100, 101, 100)
    val docs = Seq(("d1", Array(2, 3) ++ payload ++ Array(1), payload.length + 3, "s1"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    val spec = ExtractionSpec("t", Seq(
      FieldSpec("A", 3, Seq(ExtractorType.TokenPattern(Seq(100, 101))))))
    val got = ExtractCompiler.compile(docs, spec)
      .select("A_pattern").as[Seq[Int]].collect().head
    assert(got == ScalaOracle.patternPositions(payload, Seq(100, 101)))
    assert(got == Seq(0, 3))
  }

  test("generator is deterministic and satisfies input_hint invariants") {
    val a = TokenGen.table(spark, 200).orderBy("doc_id").collect()
    val b = TokenGen.table(spark, 200).orderBy("doc_id").collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
    val df = TokenGen.table(spark, 200)
    assert(df.filter(size(col("tokens")) =!= col("n_tok")).count() == 0)
    assert(df.select("doc_id").distinct().count() == df.count(), "doc_id unique at rest")
    // fragments include duplicates + multi-frag docs
    val fr = TokenGen.fragments(spark, 200)
    assert(fr.filter(col("is_dup")).count() > 0)
    assert(fr.filter(col("page_idx") > 0).count() > 0)
    assert(fr.filter(col("is_late")).count() > 0)
  }
}
