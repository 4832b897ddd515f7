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

  test("two-stage topology: stage 1 lands parents+links in the table, stage 2 streams it into the details join") {
    // The deployment shape Details.scala documents (Spark cannot chain
    // flatMapGroupsWithState into further stateful operators in one
    // query): stage 1 = fragments → stitch → extract (incl. Path
    // links) → exactly-once tableA; stage 2 = tableA.readStream →
    // link rows → watermarked stream-stream join with the child
    // stream → exactly-once tableB. Stages run sequentially (the
    // readStream contract) with independent checkpoints.
    import graft.gen.Fragment
    import graft.sink.ResultTable
    import graft.streaming.StreamJob
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft-2stage")
    val tableA = new ResultTable(base.resolve("parents").toString)
    val tableB = new ResultTable(base.resolve("joined").toString)
    def ts(s: Long) = new Timestamp(TokenGen.BASE_EPOCH_MS + s * 1000L)
    def frag(doc: String, toks: Array[Int], sec: Long) =
      Fragment(doc, toks, toks.length, "s1", ts(sec), 0, 0, is_dup = false, is_late = false)

    // stage 1 — p1 links to 5K (token 200), p2 has no links
    val mem = MemoryStream[Fragment]
    val q1 = StreamJob.run(mem.toDS(), parentSpec, tableA,
      base.resolve("ck1").toString, "stage1",
      watermarkDelay = "5 seconds", sessionGapMs = 10000L,
      trigger = Trigger.ProcessingTime(0))
    try {
      mem.addData(frag("p1", Array(2, 3, 100, 1, 5, 200, 1), 100),
        frag("p2", Array(2, 3, 300, 1), 101))
      q1.processAllAvailable()
      mem.addData(frag("~flush", Array(2), 1000))
      q1.processAllAvailable()
      mem.addData(frag("~flush2", Array(2), 2000))
      q1.processAllAvailable()
    } finally q1.stop()
    val landed = tableA.read(spark)
    assert(landed.filter(!$"doc_id".startsWith("~")).count() == 2, "both parents landed")
    assert(landed.columns.contains("__path_Links"), "link keys land with the row")

    // stage 2 — stream tableA, explode link rows, band-join children
    val links = tableA.readStream(spark, landed.schema)
      .select($"doc_id".as("parent_id"), $"event_time".as("p_time"),
        explode($"__path_Links").as("link_key"))
    val kids = MemoryStream[(String, String, Timestamp)]
    val joined = Details.joinStream(
      links, kids.toDF().toDF("c_doc_id", "c_val", "c_time"),
      watermarkDelay = "10 seconds", bandSeconds = 60L)
    val q2 = joined.writeStream
      .queryName("stage2")
      .outputMode("append")
      .option("checkpointLocation", base.resolve("ck2").toString)
      .foreachBatch(tableB.appendBatch("stage2") _)
      .start()
    try {
      kids.addData(("5K", "v-in-band", ts(130)),  // +30s: within the band
        ("5K", "v-out", ts(400)))                 // +300s: outside
      q2.processAllAvailable()
    } finally q2.stop()
    val got = tableB.read(spark).select("parent_id", "c_val")
      .as[(String, String)].collect().toSet
    assert(got == Set("p1" -> "v-in-band"), s"got $got")
  }

  test("streaming details join: watermarked band join matches in-band children only") {
    def ts(s: Long) = new Timestamp(TokenGen.BASE_EPOCH_MS + s * 1000L)
    val links = MemoryStream[(String, String, Timestamp)]
    val kids = MemoryStream[(String, String, Timestamp)]
    val out = Details.joinStream(
      links.toDF().toDF("parent_id", "link_key", "p_time"),
      kids.toDF().toDF("c_doc_id", "c_val", "c_time"),
      watermarkDelay = "10 seconds", bandSeconds = 60L)
    val q = out.writeStream.format("memory").queryName("det_s").outputMode("append").start()
    try {
      links.addData(("p1", "k1", ts(100)), ("p2", "k2", ts(100)))
      kids.addData(("k1", "v1", ts(130)),   // in band (+30s)
        ("k2", "v2", ts(400)))              // out of band (+300s > 60s)
      q.processAllAvailable()
      val rows = spark.table("det_s").select("parent_id", "c_val").as[(String, String)]
        .collect().toSet
      assert(rows == Set("p1" -> "v1"), s"got $rows")
    } finally q.stop()
  }
}
