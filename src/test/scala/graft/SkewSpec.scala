package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Skew

/** Skew + co-location operators: result equality vs the unsalted /
  * unbucketed plans, and the physical-plan properties that make them
  * worth their extra stage at 100 TB — the hot key spread across
  * salted reducers, and the bucketed join running with zero Exchange. */
class SkewSpec extends SparkSuite {

  import spark.implicits._

  /** 10k probe rows, 95% on one hot key — the Zipf shape of a popular
    * detail page referenced by most listing blocks. */
  private def skewed: (DataFrame, DataFrame) = {
    val probe = spark.range(10000).select(
      when(col("id") % 20 =!= 0, lit("hot")).otherwise(concat(lit("k"), col("id") % 50))
        .as("link_key"),
      col("id").as("row_id"))
    val build = (Seq("hot") ++ (0 until 50).map("k" + _))
      .toDF("link_key").withColumn("payload", length(col("link_key")))
    (probe, build)
  }

  test("salted join: equals the plain join, hot key spread over nSalts reducers") {
    val (probe, build) = skewed
    val plain = probe.join(build, Seq("link_key"))
      .select("link_key", "row_id", "payload")
    val salted = Skew.saltedJoin(probe, build, "link_key", col("row_id"), nSalts = 8)
      .select("link_key", "row_id", "payload")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // salting targets the non-broadcastable case — force the shuffle
    // join to inspect its partitioning (with broadcast on, this tiny
    // fixture would broadcast and the salt would be a no-op)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = Skew.saltedJoin(probe, build, "link_key", col("row_id"), nSalts = 8)
        .queryExecution.executedPlan.toString
      assert(p.contains("hashpartitioning(link_key") && p.contains("__salt"),
        s"join must partition by (link_key, __salt):\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // and the hot key's rows really land in >1 partition under it
    val spread = probe
      .withColumn("__salt", Skew.saltOf(col("row_id"), 8))
      .filter(col("link_key") === "hot")
      .select(col("__salt")).distinct().count()
    assert(spread > 4, s"hot key only reached $spread of 8 salted reducers")
  }

  test("salted join: outer variant keeps unmatched probe rows exactly once") {
    val (probe, build) = skewed
    val probeExtra = probe.union(Seq(("nomatch", 99999L)).toDF("link_key", "row_id"))
    val salted = Skew.saltedJoin(probeExtra, build, "link_key", col("row_id"),
      nSalts = 8, joinType = "left_outer")
    assert(salted.filter(col("link_key") === "nomatch").count() === 1L)
    assert(salted.count() === probeExtra.count())
  }

  test("salted agg: collect_list decomposition equals the direct aggregation") {
    val df = spark.range(5000).select(
      when(col("id") % 10 =!= 0, lit("hot_src")).otherwise(lit("cold_src")).as("source"),
      col("id").as("v"))
    val direct = df.groupBy(col("source"))
      .agg(sort_array(collect_list(col("v"))).as("vs"), count(lit(1)).as("n"))
    val salted = Skew.saltedAgg(df, Seq("source"), col("v"), nSalts = 8,
      partial = Seq(collect_list(col("v")).as("pvs"), count(lit(1)).as("pn")),
      merge = Seq(sort_array(flatten(collect_list(col("pvs")))).as("vs"),
        sum(col("pn")).as("n")))
    val d = direct.orderBy("source").collect()
    val s = salted.orderBy("source").collect()
    assert(s.map(_.getString(0)).toSeq === d.map(_.getString(0)).toSeq)
    assert(s.map(_.getSeq[Long](1)).toSeq === d.map(_.getSeq[Long](1)).toSeq)
    assert(s.map(_.getLong(2)).toSeq === d.map(r => r.getLong(2)).toSeq)
    // two grouping exchanges — (source, salt) then (source) — is the
    // whole point; anything more means the decomposition re-shuffled
    val p = salted.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2,
      s"salted agg should shuffle exactly twice:\n$p")
  }

  test("q_salted_join driver row: salted equi-join image equals the plain join's") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.queries.TokenEngine.docsFor(spark, dir)
    val build = docs.groupBy(col("source")).agg(max(col("n_tok")).as("src_max"))
    val plain = docs.join(build, Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_tok") === col("src_max")).cast("long")).cast("bigint").as("n_at_max"),
        md5(array_join(array_sort(collect_list(
          concat_ws(":", col("doc_id"), col("src_max")))), "|")).as("join_md5"))
      .orderBy(col("source")).collect().toSeq
    val salted = graft.queries.TokenEngine.saltedJoinAgg(spark, dir).collect().toSeq
    assert(salted === plain)
  }
}
