package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/**
 * query_suite: every entry of `SparkEntry.queries` over the generated tables
 * in `--input`. An untimed warm pass collects each result and digests it
 * (run.py compares row counts and digests with the recorded values); the
 * measured passes force each query with `queryExecution.toRdd.count()`.
 */
object QuerySuite {

  def run(spark: SparkSession, o: Opts, rep: Report): Double = {
    val dir = o.input.getOrElse(throw new IllegalArgumentException("queries needs --input"))
    val names = SparkEntry.queries.keys.toSeq.sorted
    def clear(): Unit = {
      // the dedup queries cache shingle sets; details levels localCheckpoint
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    val warm = names.map { n =>
      val rows = SparkEntry.queries(n)(spark, dir).collect()
      clear()
      n -> (rows.length.toLong, digest(rows))
    }.toMap
    val setupS = Harness.uptimeS()

    val sc = spark.sparkContext
    val gc0 = Probe.gcMs()
    val t0 = System.nanoTime()
    def pass(): Map[String, (Long, Double)] = names.map { n =>
      sc.setLocalProperty(Probe.SpanProp, n)
      val (count, secs) =
        try Harness.timed(SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count())
        finally sc.setLocalProperty(Probe.SpanProp, null)
      clear()
      n -> (count, secs)
    }.toMap
    val (passes, probe) = Probe.when(o.trace, sc) {
      // one pass at least, then whole passes until the time is spent
      val ps = scala.collection.mutable.ArrayBuffer(pass())
      while ((System.nanoTime() - t0) / 1e9 < o.seconds) ps += pass()
      ps.toSeq
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    rep.put("passes", passes.size)
    rep.put("queries", names.map { n =>
      Map("name" -> n, "rows" -> warm(n)._1, "digest" -> warm(n)._2,
        "measured_rows" -> passes.map(_(n)._1), "secs" -> passes.map(_(n)._2))
    })
    if (o.trace) {
      val jobs = probe.jobs.values.toSeq
      def jobsOf(n: String) = jobs.filter(_.span == n)
      rep.put("query_layers", probe.shuffleMetrics ++ probe.cpuMetrics(wallS, o.cpus, Probe.gcMs() - gc0) ++ Map(
        "query.jobs_total" -> jobs.size.toDouble / passes.size,
        "query.stages_total" -> jobs.map(_.stages).sum.toDouble / passes.size,
        "query.shuffle_bytes_total" -> probe.shuffleWrite.toDouble / passes.size,
        "query.paginate_crawl.jobs" -> jobsOf("paginate_crawl").size.toDouble / passes.size,
        "query.paginate_crawl.stages" -> jobsOf("paginate_crawl").map(_.stages).sum.toDouble / passes.size,
        "query.details_join.jobs" -> jobsOf("details_join").size.toDouble / passes.size))
    }
    setupS
  }

  /** Order-insensitive digest of a result: a sum and an xor of per-row
    * hashes, over a canonical text of each row in which doubles keep 9
    * significant digits (so a different summation order cannot change it). */
  def digest(rows: Array[Row]): String = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val s = canon(r)
      sum += MurmurHash3.stringHash(s, 17) & 0xffffffffL
      xor ^= (MurmurHash3.stringHash(s, 91).toLong << 32) | (MurmurHash3.stringHash(s, 5) & 0xffffffffL)
    }
    f"$sum%016x$xor%016x"
  }

  private def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(new MathContext(9)).stripTrailingZeros.toString
}
