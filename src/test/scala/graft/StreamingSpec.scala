package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.gen.{Fragment, TokenGen}
import graft.model._
import graft.queries.TokenEngine
import graft.sink.ResultTable
import graft.streaming._

/** Streaming-behavior fixtures per FIXTURES.md §4: dedup, session
  * stitching, late-drop, exactly-once replay, kill-and-resume. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: Long): Timestamp = new Timestamp(TokenGen.BASE_EPOCH_MS + s * 1000L)

  private def frag(doc: String, page: Int, toks: Array[Int], sec: Long, src: String = "s1") =
    Fragment(doc, toks, toks.length, src, ts(sec), page, page, is_dup = false, is_late = false)

  /** Tiny two-block doc split into two fragments. */
  private val d1p0 = Array(2, 3, 100, 1)
  private val d1p1 = Array(2, 3, 200, 201, 1)
  private val d2 = Array(2, 3, 300, 1, 4, 400, 1)

  private val spec = ExtractionSpec("s", Seq(
    FieldSpec("Names", 3, Seq(ExtractorType.Text, ExtractorType.Tokens, ExtractorType.Count)),
    FieldSpec("Images", 4, Seq(ExtractorType.Count))))

  test("stitch: out-of-order fragments + duplicates assemble in page order; session closes on watermark") {
    val mem = MemoryStream[Fragment]
    val out = Stitch.stitch(mem.toDS(), watermarkDelay = "5 seconds", gapMs = 10000L)
    val q = out.writeStream.format("memory").queryName("stitch_t").outputMode("append").start()
    try {
      // batch 1: d1 page1 BEFORE page0 (out of order), d2 whole, plus a dup of d2
      mem.addData(frag("d1", 1, d1p1, 10), frag("d2", 0, d2, 11), frag("d2", 0, d2, 12))
      q.processAllAvailable()
      // batch 2: d1 page0 arrives late-but-within-watermark
      mem.addData(frag("d1", 0, d1p0, 13))
      q.processAllAvailable()
      assert(spark.table("stitch_t").count() == 0, "sessions must stay open before gap passes")
      // flush: advance watermark way past maxEvent+gap, twice (second
      // batch fires the timers registered after the first)
      mem.addData(frag("~flush", 0, Array(2), 1000))
      q.processAllAvailable()
      mem.addData(frag("~flush2", 0, Array(2), 2000))
      q.processAllAvailable()
      val rows = spark.table("stitch_t").filter(!col("doc_id").startsWith("~"))
        .orderBy("doc_id").collect()
      assert(rows.length == 2, s"got ${rows.length} docs")
      val r1 = rows(0)
      assert(r1.getAs[String]("doc_id") == "d1")
      assert(r1.getAs[scala.collection.Seq[Int]]("tokens") == (d1p0 ++ d1p1).toSeq, "page-order token equality")
      assert(r1.getAs[Int]("n_frags") == 2)
      val r2 = rows(1)
      assert(r2.getAs[scala.collection.Seq[Int]]("tokens") == d2.toSeq, "dup fragment collapsed")
      assert(r2.getAs[Int]("n_frags") == 1)
    } finally q.stop()
  }

  test("stitch: first arrival wins when the later copy of a duplicated page comes first in a batch") {
    val mem = MemoryStream[Fragment]
    val out = Stitch.stitch(mem.toDS(), watermarkDelay = "5 seconds", gapMs = 10000L)
    val q = out.writeStream.format("memory").queryName("first_arr").outputMode("append").start()
    try {
      // the re-delivered copy of page 0 (event time +30 s, same frag_idx,
      // as TokenGen plants duplicates) precedes the original in the batch
      val orig = frag("d1", 0, d1p0, 10)
      val dup = orig.copy(event_time = ts(40), is_dup = true)
      mem.addData(dup, frag("d1", 1, d1p1, 12), orig)
      q.processAllAvailable()
      mem.addData(frag("~flush", 0, Array(2), 1000))
      q.processAllAvailable()
      mem.addData(frag("~flush2", 0, Array(2), 2000))
      q.processAllAvailable()
      val r = spark.table("first_arr").filter(col("doc_id") === "d1").as[AssembledDoc].collect()
      assert(r.length == 1 && r(0).tokens.toSeq == (d1p0 ++ d1p1).toSeq && r(0).n_frags == 2)
      // event_time = newest KEPT page (page 1 at 12 s), not the dup's 40 s
      assert(r(0).event_time == ts(12), s"event_time ${r(0).event_time}")
    } finally q.stop()
  }

  test("late fragment beyond watermark is dropped in fused mode (no session re-creation)") {
    val mem = MemoryStream[Fragment]
    val out = Stitch.stitch(mem.toDS(), watermarkDelay = "5 seconds", gapMs = 5000L)
    val q = out.writeStream.format("memory").queryName("late_f").outputMode("append").start()
    try {
      mem.addData(frag("a", 0, d2, 100))
      q.processAllAvailable() // watermark -> 95s
      mem.addData(frag("zlate", 0, d1p0, 10)) // 90s behind: beyond watermark
      q.processAllAvailable()
      mem.addData(frag("~flush", 0, Array(2), 1000))
      q.processAllAvailable()
      mem.addData(frag("~flush2", 0, Array(2), 2000))
      q.processAllAvailable()
      val docs = spark.table("late_f").select("doc_id").as[String].collect().toSet
      assert(docs.contains("a"))
      assert(!docs.contains("zlate"), "late fragment must be dropped in fused mode")
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped >= 1, s"late drop must be counted in metrics, got $dropped")
    } finally q.stop()
  }

  test("StreamJob.run plans one stateful operator behind one shuffle, and no dedup stage") {
    // the shipped design: frontier dedup, late-drop and session assembly
    // all live in the stitcher's flatMapGroupsWithState; extraction and
    // the sink add no exchange
    val base = Files.createTempDirectory("graft-plan")
    val mem = MemoryStream[Fragment]
    val q = StreamJob.run(mem.toDS(), spec, new ResultTable(base.resolve("t").toString),
      base.resolve("ck").toString, "plan_shape", watermarkDelay = "5 seconds",
      sessionGapMs = 5000L, trigger = Trigger.ProcessingTime(0L))
    try {
      mem.addData(frag("d1", 1, d1p1, 10), frag("d1", 0, d1p0, 11), frag("d1", 0, d1p0, 12))
      q.processAllAvailable()
      val nodes = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        .executedPlan.collect { case n => n.getClass.getSimpleName }
      val shape = nodes.mkString(", ")
      assert(nodes.count(_ == "FlatMapGroupsWithStateExec") == 1, shape)
      assert(!nodes.exists(_.startsWith("StreamingDeduplicate")), shape)
      assert(nodes.count(_ == "ShuffleExchangeExec") == 1, shape)
    } finally q.stop()
    intercept[IllegalArgumentException](Stitch.stitch(mem.toDS(), fused = false))
  }

  test("politeness pacing: deterministic per-source schedule with min spacing") {
    // a burst of 4 rows on one source at the same event time, then one
    // 2 s later: 500 ms apart, never before a row's own event time
    val burst = Seq("d1" -> 0L, "d2" -> 0L, "d3" -> 0L, "d4" -> 2000L)
    val (hot, last) = Pacing.foldSchedule(500L, burst, Long.MinValue)
    assert(hot == Seq(("d1", 0L, 0L), ("d2", 0L, 500L), ("d3", 0L, 1000L), ("d4", 2000L, 2000L)),
      s"hot schedule: $hot")
    assert(Pacing.foldSchedule(500L, burst, Long.MinValue) == (hot, last), "deterministic")
    // the next slice continues from the previous slice's last schedule
    val (next, last2) = Pacing.foldSchedule(500L, Seq("d5" -> 2000L), last)
    assert(next == Seq(("d5", 2000L, 2500L)) && last2 == 2500L,
      "spacing enforced across slices via the carried state")
    assert(Pacing.foldSchedule(500L, Seq("e1" -> 0L), Long.MinValue)._1 == Seq(("e1", 0L, 0L)),
      "a lone row is unthrottled")
    // a per-source delay is just the fold's parameter
    assert(Pacing.foldSchedule(2000L, Seq("s1" -> 0L, "s2" -> 0L, "s3" -> 0L), Long.MinValue)
      ._1.map(_._3) == Seq(0L, 2000L, 4000L))
  }

  test("exactly-once sink: replayed batch id is a no-op; lineage columns present") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val table = new ResultTable(dir)
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    table.appendBatch("q1")(df, 0L)
    val n1 = table.read(spark).count()
    table.appendBatch("q1")(df, 0L) // replay — must not duplicate
    table.appendBatch("q1")(df.filter($"k" === "a"), 1L)
    val r = table.read(spark)
    assert(n1 == 2 && r.count() == 3, s"replay added rows: ${r.count()}")
    assert(r.columns.contains("_batch_id") && r.columns.contains("_part_id"))
    assert(r.filter($"_batch_id" === 1L).count() == 1)
  }

  test("exactly-once sink: a later batch id compiles no new generated class") {
    // the batch id stamp must not be inlined into the sink projection
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val table = new ResultTable(Files.createTempDirectory("graft-sinkgen").toString)
    // a scan that goes through whole-stage codegen (a local Seq would
    // be folded into a local relation, with no generated code)
    val df = spark.range(0, 2, 1, 2).toDF("k")
    table.appendBatch("q")(df, 0L)
    val before = METRIC_COMPILATION_TIME.getCount
    table.appendBatch("q")(df, 1L)
    table.appendBatch("q")(df, 2L)
    val compiled = METRIC_COMPILATION_TIME.getCount - before
    assert(compiled == 0, s"batches 1 and 2 compiled $compiled classes")
    assert(table.read(spark).select("_batch_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 0L, 1L, 1L, 2L, 2L))
  }

  test("sink time travel: readAsOf sees a history prefix; batch 10 orders after batch 2") {
    val dir = Files.createTempDirectory("graft-tt").toString
    val table = new ResultTable(dir)
    val one = Seq(("a", 1)).toDF("k", "v")
    // 11 commits so the numeric-vs-lexicographic ordering is exercised
    // (name-sorted, "q-10" would precede "q-2")
    (0L to 10L).foreach(b => table.appendBatch("q")(one, b))
    assert(table.snapshots() == (0L to 10L).map(b => s"q-$b"))
    assert(table.readAsOf(spark, Some("q-2")).count() == 3, "prefix through batch 2")
    assert(table.readAsOf(spark, Some("q-10")).count() == 11)
    assert(table.read(spark).count() == 11)
    val asOf2 = table.readAsOf(spark, Some("q-2"))
      .select("_batch_id").distinct().as[Long].collect().toSet
    assert(asOf2 == Set(0L, 1L, 2L), s"later commits leaked: $asOf2")
    // VERSION AS OF semantics: unknown snapshot errors, no silent prefix
    intercept[IllegalArgumentException] {
      table.readAsOf(spark, Some("q-999")).count()
    }
  }

  test("multi-writer history: snapshots in commit order, not key order; readAsOf cuts at the commit boundary") {
    val dir = Files.createTempDirectory("graft-mw").toString
    // two independent writers (distinct queryIds) sharing one table —
    // e.g. two streaming queries landing in the same result table
    val w1 = new ResultTable(dir)
    val w2 = new ResultTable(dir)
    val one = Seq(("a", 1)).toDF("k", "v")
    w1.appendBatch("w1")(one, 0L)
    w2.appendBatch("w2")(one, 0L)
    w1.appendBatch("w1")(one, 1L)
    w2.appendBatch("w2")(one, 1L)
    // key order would be [w1-0, w1-1, w2-0, w2-1]; commit order is the
    // interleaving that actually happened (the monotonic seq chain)
    assert(w1.snapshots() == Seq("w1-0", "w2-0", "w1-1", "w2-1"),
      s"history not in commit order: ${w1.snapshots()}")
    // both instances read the same seq chain
    assert(w2.snapshots() == w1.snapshots())
    // a time-travel cut at w2's first commit must include w1-0 and
    // w2-0 but NOT w1-1 (which key-order truncation would include)
    val cut = w1.readAsOf(spark, Some("w2-0"))
    assert(cut.count() == 2, s"cut at w2-0 read ${cut.count()} rows")
    // replay through EITHER instance stays a no-op (same-key dedup
    // reads the shared log, not instance state)
    w2.appendBatch("w1")(one, 0L)
    assert(w1.read(spark).count() == 4 && w1.snapshots().length == 4)
  }

  test("same-key concurrent committers: winner's files survive, loser's attempt dir cleaned") {
    val dir = Files.createTempDirectory("graft-race").toString
    val one = Seq(("a", 1)).toDF("k", "v")
    // two committers race the SAME (queryId, batchId) through the CAS
    // window — misuse, but it must stay safe: per-attempt data dirs
    // mean the loser can never clobber the winner's part files
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        start.await()
        try new ResultTable(dir).appendBatch("q")(one, 0L)
        catch { case e: Throwable => errs.add(e) }
      })
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"concurrent commit threw: ${errs.peek()}")
    val table = new ResultTable(dir)
    assert(table.snapshots() == Seq("q-0"))
    // every manifest-referenced file exists (the r4-advice failure
    // mode was a committed manifest pointing at deleted parts)
    table.committedFiles().foreach(f =>
      assert(Files.exists(java.nio.file.Paths.get(f)), s"manifest references missing file $f"))
    assert(table.read(spark).count() == 1)
    // the losing attempt's unreferenced dir was deleted
    val nDirs = scala.util.Using.resource(
      Files.list(java.nio.file.Paths.get(s"$dir/data")))(_.count())
    assert(nDirs == 1, s"expected exactly the winner's attempt dir, found $nDirs")
  }

  test("legacy pre-seq commit format fails hard instead of reading as empty") {
    val dir = Files.createTempDirectory("graft-legacy").toString
    val table = new ResultTable(dir)
    table.appendBatch("q")(Seq(("a", 1)).toDF("k", "v"), 0L)
    // a commit file named in the pre-seq format: silently skipping it
    // would make its data invisible — the table must refuse to read
    Files.writeString(java.nio.file.Paths.get(s"$dir/_commits/old-7.json"),
      "queryId:old\nbatchId:7\n")
    val e = intercept[IllegalStateException] { table.snapshots() }
    assert(e.getMessage.contains("legacy"), e.getMessage)
  }

  test("stray <word>-<digits>.json without a manifest header is skipped, not a legacy commit") {
    val dir = Files.createTempDirectory("graft-stray").toString
    val table = new ResultTable(dir)
    table.appendBatch("q")(Seq(("a", 1)).toDF("k", "v"), 0L)
    // named like a pre-seq commit, but not a manifest: foreign, skipped
    Files.writeString(java.nio.file.Paths.get(s"$dir/_commits/notes-1.json"), "{\"note\": 1}")
    assert(table.snapshots() == Seq("q-0"))
    assert(table.read(spark).count() == 1)
    table.appendBatch("q")(Seq(("b", 2)).toDF("k", "v"), 1L)
    assert(table.snapshots() == Seq("q-0", "q-1"))
  }

  test("snapshot read hides an orphan dir and a foreign commit; a replay commits once") {
    val dir = Files.createTempDirectory("graft-snap").toString
    val table = new ResultTable(dir)
    table.appendBatch("q")(Seq(("a", 1), ("b", 2)).toDF("k", "v"), 0L)
    // simulate an upstream crash between data write and commit: data
    // files land under data/ with NO commit file
    Seq(("orphan", 99)).toDF("k", "v")
      .withColumn("_batch_id", lit(9L)).withColumn("_part_id", lit(0))
      .write.parquet(s"$dir/data/q-9")
    // a foreign file in the commit log must not break reads (and must
    // not surface the orphan)
    Files.writeString(java.nio.file.Paths.get(s"$dir/_commits/README.json"), "junk")
    assert(table.snapshots() == Seq("q-0"))
    assert(table.read(spark).select("k").as[String].collect().toSet == Set("a", "b"))
    // the replayed rewrite of the orphan's key commits normally, once,
    // and a second replay of it is a no-op
    val rewrite = Seq(("c", 3)).toDF("k", "v")
    table.appendBatch("q")(rewrite, 9L)
    table.appendBatch("q")(rewrite, 9L)
    val reopened = new ResultTable(dir)
    assert(reopened.snapshots() == Seq("q-0", "q-9"))
    val after = reopened.read(spark).select("k").as[String].collect().toList.sorted
    assert(after == List("a", "b", "c"), s"after replay: $after")
  }

  test("byQueryParam pagination expands start keys into bounded page-key sequences") {
    val starts = Seq(("a", "job1"), ("b", "job2")).toDF("base", "job")
    val out = Paginate.byQueryParam(starts, keyCol = "base", maxPages = 3)
      .orderBy("base", "page_idx").collect()
    assert(out.length == 6)
    assert(out.map(_.getAs[String]("page_key")).toSeq ==
      Seq("a?p=0", "a?p=1", "a?p=2", "b?p=0", "b?p=1", "b?p=2"))
    assert(out.forall(_.schema.fieldNames.contains("job")), "input columns carried")
    intercept[IllegalArgumentException] {
      Paginate.byQueryParam(starts, "base", maxPages = 0)
    }
  }

  test("session jar: cookies persist per user_token, hydrate before merge, expire on TTL") {
    def ev(tok: String, doc: String, sec: Long, set: String*) =
      CookieEvent(tok, doc, ts(sec), set.toArray)
    def fold(tok: String, init: JarState, events: CookieEvent*) =
      SessionJar.foldEvents(tok, events.iterator, init, ttlMs = 60000L)
    val empty = JarState(Array.empty, Long.MinValue)
    // u1: r1 sets a cookie; r2 (later, same slice, passed out of order)
    // must see it but not its own; u2 independent
    val (u1a, s1) = fold("u1", empty, ev("u1", "r2", 10, "b=2"), ev("u1", "r1", 5, "a=1"))
    val (u2, _) = fold("u2", empty, ev("u2", "s1", 5))
    // u1 next slice, from the carried state: sees a=1 AND b=2; overwrite a
    val (u1b, s2) = fold("u1", s1, ev("u1", "r3", 20, "a=9"))
    assert(s2.cookies.toSeq == Seq("a=9", "b=2"), "last write wins, first-insertion order")
    // beyond TTL (60s after last event): jar must be empty again
    val (u1c, _) = fold("u1", s2, ev("u1", "r4", 200))
    // the TTL also lapses between two events of one slice
    val (u3, _) = fold("u3", empty, ev("u3", "t1", 0, "x=1"), ev("u3", "t2", 100))
    assert(u1a.map(_.doc_id).toSeq == Seq("r1", "r2"), "emitted in event-time order")
    val rows = (u1a ++ u2 ++ u1b ++ u1c ++ u3).map(e => e.doc_id -> e.jar.toSeq.sorted).toMap
    assert(rows("r1") == Seq(), "first request hydrates an empty jar")
    assert(rows("r2") == Seq("a=1"), "in-slice order is event-time order")
    assert(rows("s1") == Seq(), "tokens are isolated")
    assert(rows("r3") == Seq("a=1", "b=2"), "jar persisted across slices")
    assert(rows("r4") == Seq(), s"TTL must empty the jar, got ${rows("r4")}")
    assert(rows("t2") == Seq(), "TTL lapses inside one slice")
  }

  test("StreamJob.run stops on a poisoned fragment and commits nothing of its batch") {
    val base = Files.createTempDirectory("graft-poison")
    val table = new ResultTable(base.resolve("t").toString)
    def launch(mem: MemoryStream[Fragment], queryId: String) =
      StreamJob.run(mem.toDS(), spec, table, base.resolve(s"ck_$queryId").toString, queryId,
        watermarkDelay = "5 seconds", sessionGapMs = 5000L, trigger = Trigger.ProcessingTime(0L))
    val clean = MemoryStream[Fragment]
    val q = launch(clean, "clean")
    try {
      clean.addData(frag("clean1", 0, d2, 100))
      q.processAllAvailable()
      clean.addData(frag("~flush", 0, Array(2), 1000))
      q.processAllAvailable()
      clean.addData(frag("~flush2", 0, Array(2), 2000))
      q.processAllAvailable()
    } finally q.stop()
    val commits = table.snapshots()
    val cleanRows = table.read(spark).drop("_batch_id", "_part_id").collect().map(_.toString).sorted
    assert(cleanRows.exists(_.contains("clean1")), cleanRows.mkString("\n"))

    def poisoned(doc: String, toks: Array[Int], nTok: Int) =
      Fragment(doc, toks, nTok, "s1", ts(100), 0, 0, is_dup = false, is_late = false)
    Seq(
      poisoned("poison_count", Array(2, 3, 100, 1), 99) -> DeadLetter.BadTokenCount,
      poisoned("poison_empty", Array.empty, 0) -> DeadLetter.EmptyPayload,
      poisoned("poison_high", Array(2, 3, 40000, 1), 4) -> DeadLetter.TokenOutOfRange,
      poisoned("poison_negative", Array(2, 3, -7, 1), 4) -> DeadLetter.TokenOutOfRange
    ).foreach { case (f, status) =>
      val mem = MemoryStream[Fragment]
      val pq = launch(mem, f.doc_id)
      try {
        mem.addData(f)
        val e = intercept[StreamingQueryException](pq.processAllAvailable())
        assert(e.getMessage.contains(s"doc_id=${f.doc_id} page_idx=0 status=$status"),
          e.getMessage)
        assert(!pq.isActive, s"${f.doc_id}: the query must stop")
      } finally pq.stop()
      assert(table.snapshots() == commits, s"${f.doc_id}: its batch committed")
      val rows = table.read(spark).drop("_batch_id", "_part_id").collect().map(_.toString).sorted
      assert(rows.toSeq == cleanRows.toSeq, s"${f.doc_id}: clean rows changed")
    }
  }

  test("dead_letter driver row: statuses partition the poisoned table, every class hit") {
    val dir = "/root/testdata/sf0.001"
    val stats = graft.queries.TokenEngine.deadLetterStats(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats.keySet === Set(DeadLetter.Ok, DeadLetter.EmptyPayload,
      DeadLetter.BadTokenCount, DeadLetter.TokenOutOfRange),
      s"all four taxonomy classes must appear, got ${stats.keySet}")
    assert(stats.values.forall(_ > 0), s"every class must be non-vacuous: $stats")
    val total = graft.queries.TokenEngine.docsFor(spark, dir).count()
    assert(stats.values.sum === total,
      "classification must partition the input — no row dropped or double-counted")
  }

  test("end-to-end kill-and-resume from checkpoint: no dupes, no loss, token-array equality") {
    val base = Files.createTempDirectory("graft-e2e")
    val inDir = base.resolve("in").toString
    val ckDir = base.resolve("ck").toString
    val table = new ResultTable(base.resolve("table").toString)

    // deterministic fragment corpus, no late rows (oracle exactness)
    val all = TokenGen.fragments(spark, 60).filter(!_.is_late).cache()
    val flushA = Seq(frag("~flushA", 0, Array(2), 100000))
    val flushB = Seq(frag("~flushB", 0, Array(2), 200000))

    // watermark/gap wider than the generator's +30s duplicate offset so
    // dups are always deduped (not re-opened sessions); flush at
    // +100000s closes everything
    def launch() = StreamJob.run(
      StreamJob.fileSource(spark, s"$inDir/*", maxFilesPerTrigger = 2),
      spec, table, ckDir, "e2e",
      watermarkDelay = "10 minutes", sessionGapMs = 60000L,
      trigger = Trigger.AvailableNow())

    // phase 1: first half of the docs
    all.filter($"doc_id" < lit("src-003")).coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/p1")
    val q1 = launch(); q1.awaitTermination(120000)
    // phase 2 ("restart after kill"): rest of the docs
    all.filter($"doc_id" >= lit("src-003")).coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/p2")
    val q2 = launch(); q2.awaitTermination(120000)
    // phases 3+4: flush rows arrive strictly AFTER all real fragments
    // are checkpointed (separate runs — the file source gives no
    // intra-run file-order guarantee, and a flush processed before a
    // real fragment would legitimately watermark-drop it). flushA's run
    // advances the watermark past every session timer; flushB's run
    // then fires them all in its first batch.
    flushA.toDS().coalesce(1).write.mode("overwrite").parquet(s"$inDir/p3")
    val q3 = launch(); q3.awaitTermination(120000)
    flushB.toDS().coalesce(1).write.mode("overwrite").parquet(s"$inDir/p4")
    val q4 = launch(); q4.awaitTermination(120000)
    // one more restart with nothing new: must be a pure no-op (replay safety)
    val q5 = launch(); q5.awaitTermination(120000)

    val got = table.read(spark).filter(!$"doc_id".startsWith("~"))
      .drop("_batch_id", "_part_id")
      .orderBy("doc_id", "block_idx")
    val exp = StreamJob.batchOracle(spark, all, spec)
      .orderBy("doc_id", "block_idx")
    val gotRows = got.select(exp.columns.map(col).toSeq: _*).collect()
    val expRows = exp.collect()
    assert(gotRows.length == expRows.length,
      s"row count: got ${gotRows.length} exp ${expRows.length}")
    gotRows.zip(expRows).foreach { case (g, e) =>
      assert(g.toString == e.toString, s"mismatch:\n  got=$g\n  exp=$e")
    }
  }

  test("kill-and-resume holds on the RocksDB state store provider") {
    // the north-star names RocksDB as the production state store
    // (state ≫ executor memory at 10^12 sequences); this pins that the
    // stitcher's flat-primitive state encoding survives RocksDB
    // serialize → snapshot → restore, not just the in-memory provider.
    // providerClass is a per-query conf captured at start, so setting
    // it on the shared session scopes it to the queries below.
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = Files.createTempDirectory("graft-rocks")
      val inDir = base.resolve("in").toString
      val ckDir = base.resolve("ck").toString
      val table = new ResultTable(base.resolve("table").toString)
      val all = TokenGen.fragments(spark, 24).filter(!_.is_late).cache()
      def launch() = StreamJob.run(
        StreamJob.fileSource(spark, s"$inDir/*", maxFilesPerTrigger = 2),
        spec, table, ckDir, "rocks",
        watermarkDelay = "10 minutes", sessionGapMs = 60000L,
        trigger = Trigger.AvailableNow())
      // phase 1: half the docs, then a cold restart from the RocksDB
      // checkpoint with the rest, then two flush runs to fire timers
      all.filter($"doc_id" < lit("src-001")).coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/p1")
      launch().awaitTermination(120000)
      all.filter($"doc_id" >= lit("src-001")).coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/p2")
      launch().awaitTermination(120000)
      Seq(frag("~flushA", 0, Array(2), 100000)).toDS().coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/p3")
      launch().awaitTermination(120000)
      Seq(frag("~flushB", 0, Array(2), 200000)).toDS().coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/p4")
      launch().awaitTermination(120000)
      val got = table.read(spark).filter(!$"doc_id".startsWith("~"))
      val expected = StreamJob.batchOracle(spark, all, spec).count()
      assert(got.count() == expected,
        s"RocksDB run: got ${got.count()} rows, expected $expected")
      all.unpersist()
    } finally spark.conf.unset(key)
  }

  test("a second run of the same stream compiles no new generated class") {
    // a per-query executor class loader (artifact isolation), a batch
    // id inlined into the sink projection or a state deserializer whose
    // code changes per plan would each make this run compile again; the
    // compile histogram counts each code-generator cache miss in the JVM
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val base = Files.createTempDirectory("graft-codegen")
    val inDir = base.resolve("in").toString
    val all = TokenGen.fragments(spark, 12).filter(!_.is_late)
    all.repartition(3).write.parquet(s"$inDir/p1")
    Seq(frag("~flushA", 0, Array(2), 100000)).toDS().coalesce(1).write.parquet(s"$inDir/p2")
    Seq(frag("~flushB", 0, Array(2), 200000)).toDS().coalesce(1).write.parquet(s"$inDir/p3")
    def runOnce(i: Int): (Long, Long) = {
      val table = new ResultTable(base.resolve(s"table$i").toString)
      val before = METRIC_COMPILATION_TIME.getCount
      val q = StreamJob.run(
        StreamJob.fileSource(spark, s"$inDir/*", maxFilesPerTrigger = 1),
        spec, table, base.resolve(s"ck$i").toString, s"codegen$i",
        watermarkDelay = "10 minutes", sessionGapMs = 60000L,
        trigger = Trigger.AvailableNow())
      q.awaitTermination(120000)
      val compiled = METRIC_COMPILATION_TIME.getCount - before
      assert(q.recentProgress.length >= 5, s"${q.recentProgress.length} batches")
      (compiled, table.read(spark).count())
    }
    val (_, rows1) = runOnce(1)
    val (compiled2, rows2) = runOnce(2)
    assert(rows2 == rows1 && rows1 > 0, s"rows: $rows1 then $rows2")
    assert(compiled2 == 0, s"second run compiled $compiled2 classes")
  }

  test("narrow expectedRows equals the full batch-oracle row count") {
    // includes planted duplicate fragments and multi-fragment docs —
    // the cases where the narrow count could diverge (dedup winner,
    // cross-fragment boundaries, zero-sentinel fallback)
    val all = TokenGen.fragments(spark, 200).filter(!_.is_late).cache()
    val full = StreamJob.batchOracle(spark, all, spec).count()
    val narrow = StreamJob.expectedRows(all, spec)
    assert(narrow === full, s"narrow=$narrow full=$full")
    // and a zero-sentinel doc exercises the single-block fallback
    val lone = Seq(frag("nosentinel", 0, Array(3, 100, 1), 500)).toDS()
    assert(StreamJob.expectedRows(lone, spec) ===
      StreamJob.batchOracle(spark, lone, spec).count())
  }

  test("robots gate: 4xx full-allow, 5xx full-disallow, longest-prefix rules, no-entry allow") {
    import graft.streaming.RobotsGate
    // reference fetch/robotstxt.go:46-62 (Google status semantics) and
    // :65-70 (nil robots data → allow)
    val rules = RobotsGate.rulesTable(spark, Seq(
      RobotsGate.RobotsRules("parsed", 200,
        allows = Seq("/pub/ok"), disallows = Seq("/pub", "/admin")),
      RobotsGate.RobotsRules("gone", 404, allows = Nil, disallows = Seq("/")),
      RobotsGate.RobotsRules("down", 503, allows = Seq("/"), disallows = Nil)))
    val frontier = Seq(
      ("parsed", "/pub/ok/x"),   // allow beats shorter disallow (longest match)
      ("parsed", "/pub/other"),  // disallowed by /pub
      ("parsed", "/index"),      // no rule matches -> allow
      ("parsed", "/admin/cfg"),  // disallowed
      ("gone", "/anything"),     // 4xx -> full allow despite disallow-all rules
      ("down", "/anything"),     // 5xx -> full disallow despite allow-all rules
      ("norules", "/x"))         // source absent from table -> allow
      .toDF("source", "doc_id")
    val kept = RobotsGate.gate(frontier, rules)
      .select("source", "doc_id").as[(String, String)].collect().toSet
    assert(kept === Set(
      ("parsed", "/pub/ok/x"), ("parsed", "/index"),
      ("gone", "/anything"), ("norules", "/x")), kept.toString)

    // randomized equivalence: the Catalyst predicate vs a straight-
    // line Scala implementation of the same Google semantics, over a
    // tiny path alphabet so prefix collisions, nesting and exact
    // allow/disallow ties all occur (seeded — deterministic)
    locally {
      val rnd = new scala.util.Random(42)
      def randPrefix(): String =
        "/" + Seq.fill(rnd.nextInt(3) + 1)(
          s"${('a' + rnd.nextInt(3)).toChar}${('a' + rnd.nextInt(3)).toChar}").mkString("/")
      val ruleRows = (0 until 40).map { i =>
        RobotsGate.RobotsRules(s"s$i",
          Seq(200, 200, 204, 403, 404, 500, 503)(rnd.nextInt(7)),
          Seq.fill(rnd.nextInt(3))(randPrefix()),
          Seq.fill(rnd.nextInt(3))(randPrefix()))
      }
      // sources up to s49: some frontier rows have no rules entry
      val paths = (0 until 400).map { _ =>
        (s"s${rnd.nextInt(50)}", randPrefix() + (if (rnd.nextBoolean()) "/x" else ""))
      }
      def naive(r: Option[RobotsGate.RobotsRules], path: String): Boolean = r match {
        case None => true
        case Some(rr) if rr.status >= 400 && rr.status <= 499 => true
        case Some(rr) if rr.status >= 500 && rr.status <= 599 => false
        case Some(rr) =>
          val a = rr.allows.filter(path.startsWith).map(_.length).maxOption.getOrElse(-1)
          val d = rr.disallows.filter(path.startsWith).map(_.length).maxOption.getOrElse(-1)
          d == -1 || a >= d
      }
      val byName = ruleRows.map(r => r.source -> r).toMap
      val expected = paths.filter { case (s, p) => naive(byName.get(s), p) }.toSet
      val got = RobotsGate.gate(
          paths.toDF("source", "doc_id"), RobotsGate.rulesTable(spark, ruleRows))
        .select("source", "doc_id").as[(String, String)].collect().toSet
      assert(got === expected,
        s"diff: missing=${expected -- got}, extra=${got -- expected}")
    }

    // the same gate applied to a fragment STREAM (stateless broadcast
    // join — no state store, no watermark interaction)
    val mem = MemoryStream[Fragment]
    val gated = RobotsGate.gate(mem.toDS().toDF(), rules)
    val q = gated.writeStream.format("memory").queryName("robots_t")
      .outputMode("append").start()
    try {
      mem.addData(
        frag("/pub/ok/stream", 0, d1p0, 1, src = "parsed"),
        frag("/pub/blocked", 0, d1p0, 2, src = "parsed"),
        frag("/x", 0, d1p0, 3, src = "down"))
      q.processAllAvailable()
      val got = spark.table("robots_t").select("doc_id").as[String].collect().toSet
      assert(got === Set("/pub/ok/stream"), got.toString)
    } finally q.stop()
  }
}
