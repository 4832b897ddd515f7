package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

import graft.bench._

/** The bench's scheduler, corpus cache and result plumbing. Everything
  * but the query-timing test is Spark-free. */
class BenchSpec extends SparkSuite {

  private val FullDocs = 6400000L
  private val AllCached = Set(FullDocs, FullDocs / 2, FullDocs / 4)
  /** The cost model before round 5's per-core refinement (runs J, L, N). */
  private val flat: Int => Long = _ => 40000L
  /** Level gate cap at the default 1200 s budget: max(30, 150 / 4). */
  private val GateCap = 37L

  private def level(rate: Double, membw: Double) =
    Level(Seq(Attempt(rate, 10.0, 0.0, membw, 1L), Attempt(rate, 11.0, 0.0, membw, 1L)), expected = 1L)
  private def pair(cN: Int, docs: Long, rateN: Double, rate4N: Double, costSec: Long, membw: Double = 2.5) =
    Pair(cN, docs, level(rateN, membw), level(rate4N, membw), Gate(membw, 15), Gate(membw, 15), costSec)

  // bench_logs/r5_run*.log record no clock for the first decisions of a
  // run; the remaining budgets given there are any value above the
  // recorded rung's two-attempt need, as the logs show two attempts

  test("PairPlan replays run L: 1.051 excluded, halved 0.708, rung 3 and pair1 skipped") {
    val plan = PairPlan(4, FullDocs, GateCap, flat)
    assert(plan.mode(3.2) == "halved-first")
    val d1 = plan.next(plan.order(3.2), 900L, AllCached, Nil)
    assert(d1.skips.isEmpty && d1.rung.contains(Rung("pair-quarter1", 1, 1600000L, 2)))
    val q1 = pair(1, 1600000L, 64033.2, 269130.4, costSec = 330L)
    assert(!PairPlan.credible(q1.eff) && q1.eff > 1.05)
    val d2 = plan.next(d1.rest, 600L, AllCached, Seq(q1))
    assert(d2.skips.isEmpty && d2.rung.contains(Rung("pair-halved2", 2, 3200000L, 2)))
    val h2 = pair(2, 3200000L, 160136.0, 453807.4, costSec = 270L)
    assert(plan.next(d2.rest, 330L, AllCached, Seq(q1, h2)) ==
      Decision(List(Skip("pair-quarter3", 330L, 330L), Skip("pair1", 330L, 543L)), None, Nil))
    assert(math.abs(PairPlan.bestEff(Seq(q1, h2)) - 0.708) < 0.001)
  }

  test("PairPlan replays run O: stops after quarter1 at 0.988") {
    val plan = PairPlan(4, FullDocs, GateCap)
    val d1 = plan.next(plan.order(2.4), 900L, AllCached, Nil)
    assert(d1.rung.contains(Rung("pair-quarter1", 1, 1600000L, 2)))
    val q1 = pair(1, 1600000L, 60840.5, 240464.4, costSec = 300L)
    assert(math.abs(q1.eff - 0.988) < 0.001)
    assert(plan.next(d1.rest, 640L, AllCached, Seq(q1)) == Decision(Nil, None, Nil))
  }

  test("PairPlan replays run N, and the refined cost model runs its full three-rung ladder") {
    val q1 = pair(1, 1600000L, 71919.6, 216810.6, costSec = 320L)
    val h2 = pair(2, 3200000L, 140113.6, 425890.6, costSec = 300L)
    def upToRung3(plan: PairPlan): List[PairPlan.Slot] = {
      val d1 = plan.next(plan.order(2.2), 900L, AllCached, Nil)
      assert(d1.rung.contains(Rung("pair-quarter1", 1, 1600000L, 2)))
      val d2 = plan.next(d1.rest, 640L, AllCached, Seq(q1))
      assert(d2.rung.contains(Rung("pair-halved2", 2, 3200000L, 2)))
      d2.rest
    }
    val recorded = PairPlan(4, FullDocs, GateCap, flat)
    assert(recorded.next(upToRung3(recorded), 318L, AllCached, Seq(q1, h2)) ==
      Decision(List(Skip("pair-quarter3", 318L, 330L), Skip("pair1", 318L, 543L)), None, Nil))
    // BASELINE.md: run N's rung 3 cost ~100 s less than the flat estimate;
    // the per-core model prices it at 279 s with one attempt per level
    val refined = PairPlan(4, FullDocs, GateCap)
    val d3 = refined.next(upToRung3(refined), 318L, AllCached, Seq(q1, h2))
    assert(d3.skips.isEmpty && d3.rung.contains(Rung("pair-quarter3", 1, 1600000L, 1)))
    val q3 = pair(1, 1600000L, 70000.0, 210000.0, costSec = 250L)
    assert(refined.next(d3.rest, 68L, AllCached, Seq(q1, h2, q3)) ==
      Decision(List(Skip("pair1", 68L, 474L)), None, Nil))
  }

  test("PairPlan replays run J under the 1.05 rule: its 1.025 first rung is credible and ends the ladder") {
    val plan = PairPlan(4, FullDocs, GateCap, flat)
    val d1 = plan.next(plan.order(2.6), 900L, AllCached, Nil)
    val q1 = pair(1, 1600000L, 62868.4, 257699.5, costSec = 330L)
    assert(PairPlan.credible(q1.eff) && q1.eff > 1.0)
    assert(plan.next(d1.rest, 600L, AllCached, Seq(q1)) == Decision(Nil, None, Nil))
  }

  test("PairPlan standard-first: pair1 >= 0.8 stops; all-throttled pair1 runs halved next") {
    val plan = PairPlan(4, FullDocs, GateCap)
    assert(plan.mode(6.0) == "standard-first")
    val d1 = plan.next(plan.order(6.0), 1000L, AllCached, Nil)
    assert(d1 == Decision(Nil, Some(Rung("pair1", 4, FullDocs, 2)), d1.rest))
    val good = pair(4, FullDocs, 100000.0, 340000.0, costSec = 400L, membw = 2.5)
    assert(plan.next(d1.rest, 800L, AllCached, Seq(good)) == Decision(Nil, None, Nil))
    val throttled = pair(4, FullDocs, 100000.0, 280000.0, costSec = 400L, membw = 2.5)
    val d2 = plan.next(d1.rest, 1000L, AllCached, Seq(throttled))
    assert(d2.skips.isEmpty && d2.rung.contains(Rung("pair-halved", 2, FullDocs, 2)))
    // the halved pair was the one shot: pair2 now reserves nothing
    assert(plan.next(d2.rest, 474L, AllCached, Seq(throttled)) ==
      Decision(List(Skip("pair2", 474L, 474L)), None, Nil))
    assert(plan.next(d2.rest, 475L, AllCached, Seq(throttled)).rung.contains(Rung("pair2", 4, FullDocs, 2)))
  }

  test("PairPlan standard-first: pair2 runs only if the budget covers it plus the halved reserve") {
    val plan = PairPlan(4, FullDocs, GateCap)
    val rest = plan.next(plan.order(6.0), 1000L, AllCached, Nil).rest
    val quiet = pair(4, FullDocs, 100000.0, 280000.0, costSec = 400L, membw = 6.0)
    // (431 s standard + 368 s halved reserve) * 1.1
    val d = plan.next(rest, 879L, AllCached, Seq(quiet))
    assert(d.skips.isEmpty && d.rung.contains(Rung("pair2", 4, FullDocs, 2)))
    assert(plan.next(rest, 878L, AllCached, Seq(quiet)) ==
      Decision(List(Skip("pair2", 878L, 878L)), Some(Rung("pair-halved", 2, FullDocs, 2)), Nil))
    // one core per level: no halved pairing exists, so a throttled probe
    // still plans standard pairs
    val small = PairPlan(1, 200000L, GateCap)
    assert(small.mode(2.0) == "standard-first" && small.order(2.0).size == 2)
  }

  test("a forked level's attempt lines round-trip, and its best attempt is the level") {
    val as = Seq(Attempt(120.0, 1.5, 0.25, 3.5, 40L), Attempt(123.5, 1.4, 0.0, 7.0, 42L))
    val l = Level(as.map(a => Attempt.fromLine(a.toLine)), expected = 42L)
    assert(l.attempts == as && l.rate == 123.5 && l.rows == 42L && l.ok && l.minMemBw == 3.5)
    assert(!Level(Nil, 0L).ok && Level(Nil, 0L).rate == 0.0)
  }

  test("JSON writer escapes strings and keeps key order") {
    assert(Json(Json.obj("b" -> 1, "a" -> Seq(true, None, 0.5), "m" -> "q\"\\")) ==
      """{"b":1,"a":[true,null,0.5],"m":"q\"\\"}""")
    assert(Json("\n") == "\"\\" + "u000a\"")
  }

  private def tmpDir(p: Path, mtimeMs: Long): Path = {
    Files.createDirectories(p.resolve("in"))
    Files.writeString(p.resolve("in/part"), "x")
    Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
    p
  }

  test("corpus cache prune keeps a live owner's tmp dir, whatever its age, and removes dead ones") {
    val root = Files.createTempDirectory("bench-cache")
    try {
      val cache = new CorpusCache(root, 8)
      val me = ProcessHandle.current()
      val started = me.info().startInstant().get().toEpochMilli
      val dead = new ProcessBuilder("true").start()
      dead.waitFor()
      val live = tmpDir(root.resolve(s"corpus-v1-d10-m8-t1.tmp-${me.pid()}"), started + 600000L)
      val recycled = tmpDir(root.resolve(s"corpus-v1-d20-m8-t1.tmp-${me.pid()}"), started - 3600000L)
      val orphan = tmpDir(root.resolve(s"corpus-v1-d30-m8-t1.tmp-${dead.pid()}"), System.currentTimeMillis())
      // two hours after the live dir was last written: past the old 1 h fallback
      cache.prune(keep = cache.dirOf(99L), now = started + 600000L + 7200000L)
      assert(Files.exists(live))
      assert(!Files.exists(recycled), "a pid that started after the dir was made is not its owner")
      assert(!Files.exists(orphan))
    } finally Measure.rmTree(root)
  }

  test("corpus cache: a corpus touched before its level is never evicted") {
    val root = Files.createTempDirectory("bench-cache")
    try {
      val cache = new CorpusCache(root, 8)
      def synth(tmp: Path): Long = { tmpDir(tmp, System.currentTimeMillis()); 7L }
      assert(cache.ensure(10L)(synth) == (cache.dirOf(10L), 7L))
      assert(cache.ensure(20L)(synth)._2 == 7L)
      assert(cache.ensure(10L)(_ => fail("a cached corpus is not synthesized again")) == (cache.dirOf(10L), 7L))
      // both synthesized 40 min ago; only corpus 10 is read by a level now
      val old = FileTime.fromMillis(System.currentTimeMillis() - 2400000L)
      Seq(10L, 20L).foreach(d => Files.setLastModifiedTime(cache.dirOf(d).resolve("_EXPECTED"), old))
      cache.touch(10L)
      cache.prune(keep = cache.dirOf(99L), capBytes = 1L)
      assert(cache.cached(10L))
      assert(!Files.exists(cache.dirOf(20L)))
    } finally Measure.rmTree(root)
  }

  test("a query that throws is reported in query_failures and not timed") {
    val boomAtRow = udf((i: Long) => if (i == 2L) throw new IllegalStateException("row two") else i)
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "plan_boom" -> ((_, _) => throw new IllegalArgumentException("no such table")),
      "ok" -> ((s, _) => s.range(10).toDF()),
      "row_boom" -> ((s, _) => s.range(4).select(boomAtRow(col("id")))))
    val t = Measure.timeQueries(spark, queries, "unused", reps = 2)
    assert(t.secs.keySet == Set("ok"))
    assert(t.failures.keySet == Set("plan_boom", "row_boom"))
    assert(t.failures("plan_boom").contains("no such table"))
    assert(Json(Json.obj("query_failures" -> Measure.timeQueries(spark, queries.take(0), "unused", 1).failures)) ==
      """{"query_failures":{}}""")
  }
}
