package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.extract.ExtractCompiler
import graft.gen.TokenGen
import graft.model._
import graft.streaming.Details

/** Details traversal (J1) — reference scrape/scrape.go:586-654 +
  * encoder nesting encoders.go:193-227. Handcrafted parent/child docs
  * with known base-36 key decodings:
  * 100→"2S", 200→"5K", 300→"8C", 1295→"ZZ", 111→"33", 112→"34", 113→"35". */
class DetailsSpec extends SparkSuite {
  import spark.implicits._

  private val parentSpec = ExtractionSpec("p", Seq(
    FieldSpec("Names", 3, Seq(ExtractorType.Text)),
    FieldSpec("Links", 5, Seq(ExtractorType.Path))))
  private val childSpec = ExtractionSpec("c", Seq(
    FieldSpec("Phones", 6, Seq(ExtractorType.Text, ExtractorType.Count))))

  private def parents = Seq(
    ("p1", Array(2, 3, 100, 1, 5, 200, 1)),          // one link  -> 5K
    ("p2", Array(2, 5, 200, 1, 5, 300, 1)),          // two links -> 5K, 8C (key order)
    ("p3", Array(2, 3, 100, 1)),                     // no link
    ("p4", Array(2, 5, 1295, 1))                     // dangling link -> ZZ (no child)
  ).toDF("doc_id", "tokens")

  private def children = Seq(
    ("5K", Array(2, 6, 111, 1, 2, 6, 112, 1)),       // two blocks
    ("8C", Array(2, 6, 113, 1))                      // one block
  ).toDF("doc_id", "tokens")

  test("batch details join nests child blocks in (key, block) order; dangling/empty -> []") {
    val p = ExtractCompiler.compile(parents, parentSpec)
    val c = ExtractCompiler.compile(children, childSpec)
    val out = Details.joinBatch(p, "Links", c, broadcastChildren = true)
      .orderBy("doc_id", "block_idx")
      .collect()
      .map(r => r.getAs[String]("doc_id") ->
        r.getAs[scala.collection.Seq[Row]]("Links_details")
          .map(_.getAs[scala.collection.Seq[String]]("Phones_text").mkString("|")))
      .toMap

    assert(out("p1") == Seq("33", "34"), s"p1: ${out("p1")}")
    assert(out("p2") == Seq("33", "34", "35"), "key order then block order")
    assert(out("p3") == Seq(), "no links -> empty details")
    assert(out("p4") == Seq(), "dangling link -> empty details")
  }

  test("path field is a join key only: not emitted as a user column (scrape.go:569-571)") {
    val p = ExtractCompiler.compile(parents, parentSpec)
    val c = ExtractCompiler.compile(children, childSpec)
    val out = Details.joinBatch(p, "Links", c, broadcastChildren = false)
    assert(!out.columns.exists(_.startsWith("__path_")))
    assert(out.columns.contains("Links_details") && out.columns.contains("Names_text"))
  }

  test("deterministic child universe: same key -> same tokens anywhere") {
    val a = TokenGen.childTokens("5K").toSeq
    val b = TokenGen.childTokens("5K").toSeq
    assert(a == b && a.nonEmpty)
    val df = TokenGen.childDocs(spark, Seq("5K", "5K", "8C").toDS())
    assert(df.count() == 2, "keys deduped")
    assert(df.filter($"doc_id" === "5K").head().getAs[scala.collection.Seq[Int]]("tokens") == a)
  }

  test("declarative 2-level nested details: compiler recurses through FieldSpec.details") {
    // universe: parent p1 --(5K)--> child --(8C)--> grandchild.
    // The child's Sub field has NO explicit Path type — the compiler
    // must add it implicitly because the field carries a details spec
    // (reference: a Field with Details is a link field, scrape.go:279-292).
    val universe = Seq(
      ("5K", Array(2, 6, 111, 1, 5, 300, 1)), // Phones="33", link 300->"8C"
      ("8C", Array(2, 7, 113, 1))             // grandchild G="35"
    ).toDF("doc_id", "tokens")
    def resolve(s: org.apache.spark.sql.SparkSession,
        keys: org.apache.spark.sql.Dataset[String]) =
      universe.join(keys.toDF("doc_id"), Seq("doc_id"), "left_semi")

    val grandSpec = ExtractionSpec("g", Seq(FieldSpec("G", 7, Seq(ExtractorType.Text))))
    val childSpec2 = ExtractionSpec("c", Seq(
      FieldSpec("Phones", 6, Seq(ExtractorType.Text)),
      FieldSpec("Sub", 5, Seq(ExtractorType.Text), details = Some(grandSpec))))
    val spec = ExtractionSpec("p", Seq(
      FieldSpec("Names", 3, Seq(ExtractorType.Text)),
      FieldSpec("Links", 5, Seq(ExtractorType.Path), details = Some(childSpec2))))

    val out = ExtractCompiler.compileWithDetails(
      Seq(("p1", Array(2, 3, 100, 1, 5, 200, 1))).toDF("doc_id", "tokens"),
      spec, resolve _, broadcastChildren = true).collect()
    assert(out.length == 1)
    val row = out.head
    assert(!row.schema.fieldNames.exists(_.startsWith("__path_")),
      "path keys are join-only at every level")
    val kids = row.getAs[scala.collection.Seq[Row]]("Links_details")
    assert(kids.length == 1, s"one child block, got ${kids.length}")
    assert(kids.head.getAs[scala.collection.Seq[String]]("Phones_text") == Seq("33"))
    val grand = kids.head.getAs[scala.collection.Seq[Row]]("Sub_details")
    assert(grand.length == 1, "one grandchild block")
    assert(grand.head.getAs[scala.collection.Seq[String]]("G_text") == Seq("35"))
  }

  test("StreamJob.run lands parents with their __path_Links link keys in the table") {
    import graft.gen.Fragment
    import graft.sink.ResultTable
    import graft.streaming.StreamJob
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft-links")
    val table = new ResultTable(base.resolve("parents").toString)
    def ts(s: Long) = new Timestamp(TokenGen.BASE_EPOCH_MS + s * 1000L)
    def frag(doc: String, toks: Array[Int], sec: Long) =
      Fragment(doc, toks, toks.length, "s1", ts(sec), 0, 0, is_dup = false, is_late = false)

    // p1 links to 5K (token 200), p2 has no links
    val mem = MemoryStream[Fragment]
    val q = StreamJob.run(mem.toDS(), parentSpec, table,
      base.resolve("ck").toString, "links",
      watermarkDelay = "5 seconds", sessionGapMs = 10000L,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData(frag("p1", Array(2, 3, 100, 1, 5, 200, 1), 100),
        frag("p2", Array(2, 3, 300, 1), 101))
      q.processAllAvailable()
      mem.addData(frag("~flush", Array(2), 1000))
      q.processAllAvailable()
      mem.addData(frag("~flush2", Array(2), 2000))
      q.processAllAvailable()
    } finally q.stop()
    val landed = table.read(spark)
    assert(landed.filter(!$"doc_id".startsWith("~")).count() == 2, "both parents landed")
    assert(landed.columns.contains("__path_Links"), "link keys land with the row")
    val links = landed.filter(!$"doc_id".startsWith("~"))
      .select($"doc_id", $"__path_Links").as[(String, Option[Seq[String]])].collect().toMap
    assert(links("p1").contains(Seq("5K")), s"p1: ${links("p1")}")
    assert(links("p2").forall(_.isEmpty), s"p2: ${links("p2")}")
  }
}
