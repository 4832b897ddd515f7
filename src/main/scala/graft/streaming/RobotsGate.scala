package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Robots gate as DATA: a tiny per-source rule table applied to the
 * frontier as a broadcast join + codegen'd predicate — the recast of
 * the reference's per-request robots.txt check
 * (reference fetch/robotstxt.go:34-75, scrape/scrape.go:210-218).
 *
 * Status semantics follow the Google robots.txt spec the reference
 * adopts verbatim (robotstxt.go:46-62):
 *
 *  - 4xx on the robots.txt fetch → "full allow" (no valid robots.txt
 *    is assumed to exist; includes 401/403);
 *  - 5xx → temporary error → "full disallow";
 *  - 2xx → parsed rules: the most specific (longest) matching prefix
 *    wins, allow wins ties, no matching rule → allow (the library's
 *    TestAgent default; robotstxt.go:65-70 `nil → true`).
 *
 * Scale shape: one robots.txt per source means the rule table is
 * O(#sources) — broadcast it; the frontier never shuffles. The
 * prefix match is `aggregate(filter(...))` over the (small) rule
 * arrays — pure codegen, no UDF.
 */
object RobotsGate {

  /** One source's robots decision inputs: the robots.txt fetch status
    * and the parsed allow/disallow path prefixes for our agent. */
  final case class RobotsRules(
      source: String,
      status: Int,
      allows: Seq[String],
      disallows: Seq[String])

  def rulesTable(spark: SparkSession, rules: Seq[RobotsRules]): DataFrame = {
    import spark.implicits._
    rules.toDS().toDF()
  }

  /** Length of the longest prefix in `rules` matching `path`, -1 when
    * none matches (array form of robotstxt's most-specific-rule scan). */
  private def matchLen(rules: Column, path: Column): Column =
    aggregate(
      filter(rules, r => path.startsWith(r)),
      lit(-1),
      (acc, r) => greatest(acc, length(r)))

  /** The allow/deny verdict for one (rules-row, path) pair; null-safe
    * for frontier rows whose source has no rules entry (no robots.txt
    * fetched yet → allow, the reference's `robotsData == nil` branch). */
  private def verdict(path: Column): Column = {
    val allowM = matchLen(col("__allows"), path)
    val denyM = matchLen(col("__disallows"), path)
    val decided = when(col("__status").between(400, 499), lit(true))  // full allow
      .when(col("__status").between(500, 599), lit(false))            // full disallow
      .otherwise(denyM === -1 || allowM >= denyM)
    coalesce(decided, lit(true))
  }

  /**
   * Filter `frontier` to rows allowed by the per-source rules. Works
   * on batch AND streaming frames (broadcast joins are stateless, so
   * the gate adds no state store and no watermark interaction).
   */
  def gate(frontier: DataFrame, rules: DataFrame): DataFrame = {
    // one rule row per source is the join's correctness precondition:
    // a duplicated rules row would silently duplicate every allowed
    // frontier row through the left join (ADVICE r3) — enforce it
    // here instead of trusting every caller to .distinct() first.
    // min(struct(...)) rather than dropDuplicates: when duplicate
    // rows CONFLICT (e.g. an old and a refreshed robots snapshot
    // unioned), dropDuplicates keeps whichever row the shuffle
    // delivers first — nondeterministic verdicts run to run; the
    // struct-min picks the same (lowest-status-first) row every time.
    val r = rules.select(
      col("source").as("__rsource"),
      struct(col("status"), col("allows"), col("disallows")).as("__rule"))
      .groupBy(col("__rsource"))
      .agg(min(col("__rule")).as("__rule"))
      .select(col("__rsource"), col("__rule.status").as("__status"),
        col("__rule.allows").as("__allows"), col("__rule.disallows").as("__disallows"))
    frontier
      .join(broadcast(r), frontier("source") === col("__rsource"), "left")
      .filter(verdict(frontier("doc_id")))
      .drop("__rsource", "__status", "__allows", "__disallows")
  }
}
