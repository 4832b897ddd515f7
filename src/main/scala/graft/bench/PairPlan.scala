package graft.bench

/** The next pair to measure: N cores (4N implied), the corpus size and
  * the measured attempts per level. */
final case class Rung(tag: String, cpusN: Int, docs: Long, attempts: Int)

/** A stage the remaining budget could not cover. */
final case class Skip(tag: String, remainingSec: Long, needSec: Long)

/** The plan's answer: the stages skipped on budget, then the next rung
  * (None: stop) and the slots left after it. */
final case class Decision(skips: List[Skip], rung: Option[Rung], rest: List[PairPlan.Slot])

/** Which (N, 4N) pairs the stream phase measures, in what order, and
  * whether the wall budget covers each before it is spent. Pure: the
  * caller passes the membw probe, the remaining budget, the cached
  * corpora and the pairs measured so far. Pairs, because this host's
  * DRAM throttling drifts on a minutes scale (invisible to steal): a
  * ratio of levels measured far apart compares different machines.
  *
  * A quiet probe runs the standard pair first; a second one must reserve
  * the halved fallback's cost before it spends. A throttled probe runs a
  * ladder of short pairs whose 4N level sits under the throttled DRAM
  * ceiling: quartered 1->4 (it cleared 0.8 in windows that capped the
  * 8-thread level), halved 2->8 for shape diversity, quartered again;
  * the standard pair is then insurance. Each stage is priced first:
  * `ratePerCore` rows/s per core, 60 s per level (fork, pre-touch,
  * warmup), the gate cap, and 45 s + docs/16k s per uncached corpus. */
final case class PairPlan(baseCpus: Int, streamDocs: Long, levelGateCap: Long,
    ratePerCore: Int => Long = PairPlan.measuredRatePerCore) {
  import PairPlan._

  /** The 2-core level is the wall-clock hog: half the input keeps a
    * pair compute-dominated at half the cost. */
  val halfDocs: Long = math.max(streamDocs / 2, math.min(streamDocs, 20000L))
  /** Floored at 1.2M docs: below that a 4-core attempt is short enough
    * for the ~4 s fixed floor to eat the ratio. */
  val quarterDocs: Long = math.max(streamDocs / 4, math.min(streamDocs, 1200000L))

  def halvedFirst(probeGBs: Double): Boolean = probeGBs < QuietGBs && baseCpus >= 2
  def mode(probeGBs: Double): String = if (halvedFirst(probeGBs)) "halved-first" else "standard-first"

  def order(probeGBs: Double): List[Slot] =
    if (halvedFirst(probeGBs))
      List(1, 2, 3).map { h =>
        if (h == 2 || baseCpus < 4) Ladder(s"pair-halved$h", baseCpus / 2, halfDocs)
        else Ladder(s"pair-quarter$h", baseCpus / 4, quarterDocs)
      } :+ Standard("pair1", priced = true)
    else List(Standard("pair1", priced = false), Halved(afterThrottledFirst = true),
      Standard("pair2", priced = true), Halved(afterThrottledFirst = false))
      .filter(s => baseCpus >= 2 || !s.isInstanceOf[Halved]) // one core per level cannot halve

  def next(slots: List[Slot], remainingSec: Long, cached: Set[Long], pairs: Seq[Pair]): Decision = {
    def attempts(docs: Long): Int = if (cached(docs)) 2 else 1
    def est(cN: Int, docs: Long, att: Int, gateSec: Long): Long = {
      def lvl(c: Int) = att * docs * RowsPerDoc / (ratePerCore(c) * c) + gateSec + 60L
      (if (cached(docs)) 0L else 45L + docs / 16000L) + lvl(cN) + lvl(cN * 4)
    }
    def margin(sec: Long): Long = sec * 11 / 10
    def priced(tag: String, need: Long, rung: => Rung): Either[Skip, Rung] =
      if (remainingSec > need) Right(rung) else Left(Skip(tag, remainingSec, need))
    // best-of-2 per level, else 1 attempt as the last affordable rung
    def fallback(tag: String, cN: Int, docs: Long): Either[Skip, Rung] =
      if (remainingSec > margin(est(cN, docs, 2, 15L))) Right(Rung(tag, cN, docs, 2))
      else priced(tag, margin(est(cN, docs, 1, 15L)), Rung(tag, cN, docs, 1))
    val standard = est(baseCpus, streamDocs, attempts(streamDocs), levelGateCap)
    val pairCost = pairs.map(_.costSec).maxOption.getOrElse(0L)
    @annotation.tailrec def go(rest: List[Slot], skips: List[Skip]): Decision = rest match {
      case slot :: tail if bestEff(pairs) < Target =>
        val outcome = slot match {
          case Standard(tag, isPriced) =>
            val reserve = if (tail.exists(_.isInstanceOf[Halved])) est(baseCpus / 2, halfDocs, attempts(halfDocs), 15L) else 0L
            val need = if (isPriced) margin(math.max(standard + reserve, pairCost)) else Long.MinValue
            Some(priced(tag, need, Rung(tag, baseCpus, streamDocs, attempts(streamDocs))))
          case Ladder(tag, cN, docs) => Some(fallback(tag, cN, docs))
          case Halved(true) if !pairs.headOption.exists(allThrottled) => None
          case Halved(_) => // the full corpus when the budget covers it with room
            val full = remainingSec > est(baseCpus / 2, streamDocs, attempts(streamDocs), 15L) * 23 / 20
            Some(fallback("pair-halved", baseCpus / 2, if (full) streamDocs else halfDocs))
        }
        // the halved pairing runs once, whether measured or skipped
        val after = if (slot.isInstanceOf[Halved] && outcome.nonEmpty) tail.filterNot(_.isInstanceOf[Halved]) else tail
        outcome match {
          case Some(Right(rung)) => Decision(skips.reverse, Some(rung), after)
          case Some(Left(skip)) => go(after, skip :: skips)
          case None => go(after, skips)
        }
      case _ => Decision(skips.reverse, None, Nil)
    }
    go(slots, Nil)
  }
}

object PairPlan {
  sealed trait Slot
  final case class Standard(tag: String, priced: Boolean) extends Slot
  final case class Ladder(tag: String, cpusN: Int, docs: Long) extends Slot
  /** The halved pairing: after a first standard pair whose every attempt
    * was throttled, or at the end. */
  final case class Halved(afterThrottledFirst: Boolean) extends Slot

  val Target = 0.8
  /** Probe threshold between the degraded and quiet plateaus. */
  val QuietGBs = 4.0
  /** 18,816,964 extracted rows from 6.4M docs. */
  val RowsPerDoc = 3L

  /** Per-core sustained rate in the throttled band, measured across the
    * round-5 series (1 core 62-75k, 4 cores 50-64k, 16 cores ~30k):
    * linear decay floored at the earlier flat 40k. */
  def measuredRatePerCore(c: Int): Long = math.max(40000L, 60000L - 1500L * c)

  /** Warm attempts agree within +-5%, so a ratio up to 1.05 is perfect
    * scaling plus noise; above it the N level ran more throttled than
    * the 4N level and the ratio says nothing about the engine. */
  def credible(eff: Double): Boolean = eff <= 1.05
  def bestEff(pairs: Seq[Pair]): Double = pairs.map(_.eff).filter(credible).foldLeft(0.0)(math.max)

  def allThrottled(p: Pair): Boolean = {
    val bws = (p.n.attempts ++ p.n4.attempts).map(_.memBwGBs)
    bws.nonEmpty && bws.forall(_ < QuietGBs)
  }
}
