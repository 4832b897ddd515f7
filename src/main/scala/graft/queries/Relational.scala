package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Relational operator coverage (SURVEY §2.4-§2.8 recasts) over the
 * driver's TPC-H-ish tables, each with a DuckDB oracle in its
 * [[graft.SparkEntry.all]] record.
 *
 * Scale notes: every query here is declarative DataFrame code —
 * Catalyst pushes filters/projections into the parquet scan, AQE
 * handles skew/coalescing, and joins pick broadcast vs sort-merge by
 * stats. Explicit `broadcast()` hints mark dimension tables that are
 * guaranteed small at any SF (nation/region are fixed-size; part/
 * supplier grow but stay ≪ fact tables).
 */
object Relational {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Exact integer minor units (cents for scale 2) for a decimal
    * result column: `(c * 10^scale) :: bigint`. Aggregation stays
    * exact in decimal; the final ×10^scale is lossless because the
    * value's scale is exactly `scale`, so the product is integral.
    *
    * Why not emit DECIMAL at all (round-2 lesson): the driver's hash
    * is dtype-sensitive and DuckDB's pandas path coerces DECIMAL to
    * float64 while Spark's parquet yields Decimal objects — identical
    * values, unequal hashes, at ANY declared precision. BIGINT round-
    * trips identically on both sides. Each oracle SQL twin mirrors the
    * same `CAST(x * 10^scale AS BIGINT)`. */
  private def cents(c: Column, scale: Int): Column =
    // integer power (ADVICE r3): math.pow goes through double and is
    // silently inexact past 2^53 — exact for any scale this way
    (c * Seq.fill(scale)(10L).product).cast("bigint")

  /** Hash aggregate with partial (map-side) combine — the reference's
    * result-aggregation analog (SURVEY §2.5 A2). Decimal sums for
    * order-independent exactness vs the oracle. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).as("q"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("b"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)")).as("d"),
        count(lit(1)).as("count_order"))
      .select(col("l_returnflag"), col("l_linestatus"),
        cents(col("q"), 2).as("sum_qty"),
        cents(col("b"), 2).as("sum_base_price"),
        cents(col("d"), 4).as("sum_disc_price"),
        col("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Multi-way equi join + agg (SURVEY §2.4 recast): fact ⋈ dims with
    * explicit broadcast of the small sides. */
  def qJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val nat = t(spark, dir, "nation")
    val ord = t(spark, dir, "orders")
    ord
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("tp"))
      .select(col("n_name"), col("n_orders"), cents(col("tp"), 2).as("total_price"))
      .orderBy(col("n_name"))
  }

  /** Broadcast hash join of fact × small dim (J4 analog: the robots/
    * exclude-list lookup, SURVEY §2.4). */
  def qBroadcastJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val part = t(spark, dir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).as("q"))
      .select(col("p_brand"), col("n_items"), cents(col("q"), 2).as("sum_qty"))
      .orderBy(col("p_brand"))
  }

  /** Left-semi join — EXISTS (frontier-membership analog, J3). */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val ord = t(spark, dir, "orders").filter(col("o_totalprice") > 400000)
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  /** Left-anti join — NOT EXISTS (cross-run dedup vs sink table, J3). */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val urgent = t(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    cust.join(urgent, cust("c_custkey") === urgent("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Ranking window — top-3 orders per customer (W1/W3: the reference's
    * (page, block) ordered read-back, scrape/encoders.go:172-251). */
  def qWindowTopk(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    ord.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        cents(col("o_totalprice").cast("decimal(18,2)"), 2).as("o_totalprice"),
        // DuckDB ROW_NUMBER() is BIGINT; Spark row_number is INT —
        // align the physical width for the driver's typed hash
        col("rnk").cast("bigint").as("rnk"))
      .orderBy(col("o_custkey"), col("rnk"))
  }

  /** Running-sum frame (W4 rowsBetween) per supplier by ship date. */
  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(col("l_suppkey") <= 10)
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.withColumn("running_qty", sum(col("l_quantity").cast("decimal(18,2)")).over(w))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        cents(col("running_qty"), 2).as("running_qty"))
      .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Set operations (SURVEY §2.7): union/intersect/except of key sets. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val a = t(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey"))
    val b = t(spark, dir, "orders").filter(col("o_totalprice") > 300000)
      .select(col("o_custkey"))
    val u = a.union(b).distinct().withColumn("op", lit("union"))
    val i = a.intersect(b).withColumn("op", lit("intersect"))
    val e = a.except(b).withColumn("op", lit("except"))
    u.union(i).union(e)
      .groupBy(col("op")).agg(count(lit(1)).as("n"))
      .orderBy(col("op"))
  }

  /** String filter chain (reference extract/filters.go:7-21 — trim,
    * lower, upper, capitalize composed left-to-right). */
  def qStringFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .select(
        col("p_partkey"),
        lower(trim(col("p_name"))).as("name_lower"),
        upper(col("p_brand")).as("brand_upper"),
        length(col("p_name")).cast("int").as("name_len"))
      .orderBy(col("p_partkey"))

  /** Tumbling event-time window (SURVEY §2.6 W4 / §2.5 A4). Window
    * bounds exported as epoch millis so the DuckDB oracle compares
    * integers, not timezone-bound timestamps. */
  def qTumbling(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp")) // parquet NTZ -> UTC session time
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("tv"))
      .select(unix_millis(col("w.start")).as("w_start"),
        col("event_type"), col("n"), cents(col("tv"), 2).as("total_value"))
      .orderBy(col("w_start"), col("event_type"))

  /** Sliding window, 1 h length / 30 min slide — each event lands in
    * two windows. */
  def qSliding(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp")) // parquet NTZ -> UTC session time
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("tv"))
      .select(unix_millis(col("w.start")).as("w_start"),
        col("event_type"), col("n"), cents(col("tv"), 2).as("total_value"))
      .orderBy(col("w_start"), col("event_type"))

  /** Session window per user with 30 min inactivity gap (W4; the
    * declarative sibling of the stateful Stitch sessions). Session end
    * = last event + gap, per Spark session_window semantics — the
    * oracle reproduces that as max(ts) + interval. */
  def qSessionWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("tv"))
      .select(col("user_id"), unix_millis(col("w.start")).as("sess_start"),
        unix_millis(col("w.end")).as("sess_end"), col("n"), cents(col("tv"), 2).as("total_value"))
      .orderBy(col("user_id"), col("sess_start"))

  /** Exact distinct counts (SURVEY §2.5 A5 — frontier dedup statistics,
    * exact path; the approximate path is [[qApproxDistinct]], checked
    * by its tolerance band since HLL outputs are engine-specific). */
  def qDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Approximate distinct counts — A5's scale path. Raw HLL++
    * estimates are engine-specific, so the driver-checkable property
    * is the tolerance band: the estimate must sit within ±5% of the
    * exact count (rsd 0.02 ⇒ ~2.5σ headroom; HLL is deterministic
    * given the data, so this is stable, not flaky). The oracle
    * computes the exact counts and asserts the band as literal TRUE. */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), 0.02).as("approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("approx") - col("n_exact")) <= col("n_exact") * lit(0.05))
          .as("approx_ok"))
      .orderBy(col("event_type"))

  /** Grouping-sets style report via rollup (SURVEY §2.5 note). */
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("t"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("n"),
        cents(col("t"), 2).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
}
