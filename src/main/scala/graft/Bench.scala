package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.bench._
import graft.bench.Json.{obj, round}
import graft.queries.TokenEngine

/** Benchmark main. Prints a `queries_partial` line, then the final
  * `total` line, always last and with exit 0: `queries` (best-of-reps
  * wall seconds per SparkEntry query) and `stream` (extracted rows/s of
  * the full streaming pipeline on one corpus at local[N] and local[4N],
  * `scaling_efficiency` = min(rate_4N / rate_N / 4, 1.0) of the best
  * credible pair, `verified` = sink rows equal the batch oracle's count
  * at both levels). Reads SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_WALL_BUDGET. Synthesis and each level run in forked JVMs
  * of this main (`synth` and `level` argv): a second SparkSession in a
  * used JVM inherits state-store threads. */
object Bench {

  /** Every time-shaped stage (gates, attempts, extra pairs) draws on this
    * budget, counted from object init: an honest truncated artifact beats
    * a run killed by its caller's wall clock. */
  private val wallT0 = System.nanoTime()
  private val wallBudget = sys.env.getOrElse("SPARK_GRAFT_WALL_BUDGET", "1200").toLong
  private def elapsedSec: Long = (System.nanoTime() - wallT0) / 1000000000L

  /** Quiet-window gates wait, bounded, for the membw probe to clear
    * before each measured section; they only choose when to start, and
    * the last reading and the wait ride in the artifact. Their shared
    * budget is an eighth of the wall budget (at most 600 s), sliced so
    * one degraded stretch cannot starve the later level gates. */
  private var gateBudget = math.min(600L, wallBudget / 8)
  private val levelGateCap = math.max(30L, gateBudget / 4)
  private val queryGateCap = math.max(30L, gateBudget / 12)

  private def quietGate(tag: String, cap: Long): Gate = {
    var bw = Measure.memBwProbe()
    var waited = 0L
    while (bw < PairPlan.QuietGBs && gateBudget > 0 && waited < cap) {
      val step = math.min(30L, math.min(gateBudget, cap - waited))
      gateBudget -= step
      waited += step
      Thread.sleep(step * 1000)
      bw = Measure.memBwProbe()
    }
    if (waited > 0 || bw < PairPlan.QuietGBs)
      System.err.println(f"[bench gate $tag] membw=$bw%.1fGB/s waited=${waited}s budget_left=${gateBudget}s")
    Gate(bw, waited)
  }

  /** Run this main in a fresh JVM and parse its stdout; a dead fork (e.g.
    * OOM-killed) is retried once. Inherited heap flags (the parent's may
    * be sized for a whole box) give way to min(24g, MemTotal / 4): 24g covers a
    * local[16] level. Measured forks pre-touch the heap, or faults land
    * inside the measured window (141 s vs 53 s for one first pass). */
  private def fork[T](pretouch: Boolean, args: Any*)(parse: List[String] => Option[T]): Option[T] = {
    val memKb = scala.util.Try(scala.util.Using.resource(scala.io.Source.fromFile("/proc/meminfo"))(_.getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong })).toOption.flatten
    val heap = s"${math.min(24L << 10, memKb.fold(24L << 10)(_ >> 12))}m"
    val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => Seq("-Xmx", "-Xms", "-XX:MaxRAMPercentage", "-XX:InitialRAMPercentage").exists(a.startsWith)) ++
      Seq(s"-Xmx$heap") ++ (if (pretouch) Seq(s"-Xms$heap", "-XX:+AlwaysPreTouch") else Nil) ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Bench") ++ args.map(_.toString)
    def once(): Option[T] = {
      val p = new ProcessBuilder(cmd.asJava).redirectError(ProcessBuilder.Redirect.INHERIT).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").linesIterator.toList
      p.waitFor()
      parse(out).orElse { System.err.println(s"[bench] dead fork ${args.mkString(" ")}:\n${out.mkString("\n")}"); None }
    }
    once().orElse(once())
  }

  def main(args: Array[String]): Unit = args match {
    case Array("synth", dir, docs, layout, synthCpus) =>
      Measure.rmTree(Paths.get(dir)) // a dead first try's output
      val spark = Measure.session(synthCpus.toInt)
      try println(s"BENCHSYNTH ${Measure.synthesize(spark, docs.toLong, dir, layout.toInt)}") finally spark.stop()
    case Array("level", cpus, dir, mfpt, attempts) =>
      Measure.level(cpus.toInt, s"$dir/in", s"$dir/warm", mfpt.toInt, attempts.toInt).foreach(a => println(a.toLine))
    case _ =>
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        sys.error("SPARK_GRAFT_SF_DIR must name a generated sf<scale> data dir"))
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
      val queries = queryPhase(sfDir, cpus)
      // under its own metric name: every query's number survives a dead stream phase
      println(Json(obj("metric" -> "queries_partial") ++ queries + ("partial" -> true)))
      // large enough that compute dominates the ~8-10 s per-level floor,
      // small enough that the run fits the wall budget
      val scale = TokenEngine.scaleOf(sfDir)
      val docs = Seq(0.1 -> 6400000L, 0.01 -> 200000L).collectFirst { case (sf, d) if scale >= sf => d }.getOrElse(20000L)
      println(Json(obj("metric" -> "total") ++ queries + ("stream" -> streamPhase(cpus, docs))))
  }

  /** The per-query fields shared by both result lines. */
  private def queryPhase(sfDir: String, cpus: Int): ListMap[String, Any] = {
    val spark = Measure.session(cpus)
    try {
      val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      // min-of-K: ambient host contention swings identical runs up to
      // ~10x; the min is the engine's number, the swing the machine's
      val reps = if (wallBudget >= 1500) 3 else 2
      // untimed pass at the smallest SF, so rep 1 pays data, not JIT and
      // codegen (a cold first rep was 300-440 s in throttled windows)
      val warmSf = Paths.get(sfDir).resolveSibling("sf0.001")
      if (Files.isDirectory(warmSf) && TokenEngine.scaleOf(sfDir) > TokenEngine.scaleOf(warmSf.toString)) {
        val t0 = System.nanoTime()
        Measure.timeQueries(spark, queries, warmSf.toString, reps = 1)
        System.err.println(f"[bench query-warm] wall=${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      val gate = quietGate("queries", queryGateCap)
      val bwBefore = Measure.memBwProbe()
      val j0 = Measure.cpuJiffies()
      val t = Measure.timeQueries(spark, queries, sfDir, reps)
      obj("value" -> t.secs.values.sum, "unit" -> "sec", "queries" -> t.secs, "query_failures" -> t.failures,
        "query_env" -> obj("reps" -> reps, "membw_gbs_before" -> round(bwBefore, 1),
          "membw_gbs_after" -> round(Measure.memBwProbe(), 1),
          "steal_pct" -> round(Measure.stealPct(j0, Measure.cpuJiffies()), 2), "gate_waited_sec" -> gate.waitedSec),
        "sf" -> sfDir)
    } finally spark.stop()
  }

  /** Measure the pairs [[PairPlan]] schedules and select the result; a
    * failure still selects the completed pairs, reported in `error`. */
  private def streamPhase(cpus: Int, streamDocs: Long): ListMap[String, Any] = {
    // N = cpus / 8, i.e. 4 -> 16 threads on 32 cores: both levels sit
    // under that box's ~1M rows/s shared-DRAM ceiling, so the ratio
    // measures the engine's scaling rather than the memory wall
    val baseCpus = math.max(1, cpus / 8)
    val mfpt = Measure.filesPerBatch(baseCpus * 4)
    val cache = new CorpusCache(Measure.ioRoot, mfpt)
    val plan = PairPlan(baseCpus, streamDocs, levelGateCap)
    val probe = Measure.memBwProbe()
    System.err.println(f"[bench plan] membw=$probe%.1fGB/s mode=${plan.mode(probe)}")
    val pairs = ArrayBuffer.empty[Pair]
    val skipped = ArrayBuffer.empty[String]

    def measure(r: Rung): Pair = {
      // synthesis forks too, so its corpus-sized RSS dies with it
      val (dir, expected) = cache.ensure(r.docs)(tmp => fork(false, "synth", tmp, r.docs, baseCpus * 4, cpus)(
        _.collectFirst { case l if l.startsWith("BENCHSYNTH ") => l.stripPrefix("BENCHSYNTH ").toLong })
        .getOrElse(throw new IllegalStateException("synth fork died twice")))
      val t0 = elapsedSec
      def level(c: Int): Level = {
        cache.touch(r.docs)
        fork(true, "level", c, dir, mfpt, r.attempts)(out =>
          Some(Level(out.filter(_.startsWith(Attempt.Tag)).map(Attempt.fromLine), expected)).filter(_.rate > 0))
          .getOrElse(Level(Nil, expected))
      }
      // each level is gated: the degraded/quiet transition happens on a
      // minutes scale, i.e. between the two levels of one pair
      val gateCap = if (r.cpusN < baseCpus) 15L else levelGateCap
      val g4 = quietGate(s"${r.tag}-4n", gateCap)
      val n4 = level(r.cpusN * 4)
      val g1 = quietGate(s"${r.tag}-n", gateCap)
      val p = Pair(r.cpusN, r.docs, level(r.cpusN), n4, g1, g4, elapsedSec - t0)
      System.err.println(f"[bench ${r.tag}] cpus=(${r.cpusN},${r.cpusN * 4}) docs=${r.docs} " +
        f"rate_4n=${n4.rate}%.1f rate_n=${p.n.rate}%.1f eff=${p.eff}%.3f")
      p
    }

    @annotation.tailrec def loop(slots: List[PairPlan.Slot]): Unit = {
      val cached = Set(streamDocs, plan.halfDocs, plan.quarterDocs).filter(cache.cached)
      val d = plan.next(slots, wallBudget - elapsedSec, cached, pairs.toSeq)
      for (s <- d.skips) {
        System.err.println(s"[bench budget] skipping ${s.tag} (remaining=${s.remainingSec}s < est ~${s.needSec}s)")
        skipped += s.tag
      }
      d.rung.foreach(pairs += measure(_))
      if (d.rung.nonEmpty) loop(d.rest)
    }
    val error = try { loop(plan.order(probe)); None } catch { case t: Throwable =>
      System.err.println(s"[bench] stream phase aborted (artifact still prints): $t")
      Some(t.toString.take(300))
    }

    // the best credible pair; if every pair is superlinear, the best one
    // as throughput evidence, with efficiency 0.0 and credible false
    val credible = pairs.filter(p => PairPlan.credible(p.eff))
    val best = (if (credible.nonEmpty) credible else pairs).maxByOption(_.eff)
    val (n, n4) = best.fold((Level(Nil, 0L), Level(Nil, 0L)))(p => (p.n, p.n4))
    val cpusN = best.fold(baseCpus)(_.cpusN)
    def attempts(as: Seq[Attempt]) = as.map(a => obj("rate" -> round(a.rate, 1), "wall" -> round(a.wall, 1),
      "steal_pct" -> round(a.stealPct, 2), "membw_gbs" -> round(a.memBwGBs, 1)))
    def gate(g: Gate) = obj("membw_gbs" -> round(g.memBwGBs, 1), "waited_sec" -> g.waitedSec)
    obj("docs" -> best.fold(streamDocs)(_.docs), "rows" -> n.rows, "cpus_n" -> cpusN, "cpus_4n" -> cpusN * 4,
      "rate_n" -> round(n.rate, 1), "rate_4n" -> round(n4.rate, 1),
      // above 1.0 the N level ran more throttled than the 4N level: the
      // headline is capped, the selected pair's raw ratio rides beside it
      "scaling_efficiency" -> round(if (credible.isEmpty) 0.0 else math.min(best.fold(0.0)(_.eff), 1.0), 3),
      "scaling_efficiency_raw" -> round(best.fold(0.0)(_.eff), 3),
      // the reference's only published sustained figure: ~159 pages/s
      "rows_per_sec_vs_reference" -> round(n4.rate / 159.0, 1),
      "credible" -> credible.nonEmpty,
      "pairing" -> (if (cpusN == baseCpus) "standard" else if (cpusN * 2 == baseCpus) "halved" else "quartered"),
      "plan" -> obj("membw_probe_gbs" -> round(probe, 1), "throttled" -> (probe < PairPlan.QuietGBs),
        "mode" -> plan.mode(probe)),
      "verified" -> (n.ok && n4.ok && n.rows == n4.rows),
      "wall_budget_sec" -> wallBudget, "elapsed_sec" -> elapsedSec,
      "truncated" -> (skipped.nonEmpty || error.nonEmpty), "skipped" -> skipped) ++
      error.map("error" -> _) ++
      obj("pairs" -> pairs.map(p => obj("cpus_n" -> p.cpusN, "docs" -> p.docs,
        "rate_n" -> round(p.n.rate, 1), "rate_4n" -> round(p.n4.rate, 1), "efficiency" -> round(p.eff, 3),
        "membw_n_min" -> round(p.n.minMemBw, 1), "membw_4n_min" -> round(p.n4.minMemBw, 1),
        "gate_n" -> gate(p.gateN), "gate_4n" -> gate(p.gate4N))),
        "attempts_n" -> attempts(pairs.toSeq.flatMap(_.n.attempts)),
        "attempts_4n" -> attempts(pairs.toSeq.flatMap(_.n4.attempts)))
  }
}
