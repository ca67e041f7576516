package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window / analytic functions (SURVEY.md §2.e — ABSENT in the reference;
  * supplied by `Window.partitionBy(...).orderBy(...)` + ranking/frame
  * functions).
  *
  * Scale note: every window here partitions by a key (customer / user), so
  * the physical plan is one hash exchange on the partition key + an
  * in-partition sort — no global sort, no skew beyond the key distribution.
  * Ordering keys always end in a unique tiebreaker column so that ranking
  * output is deterministic and oracle-comparable.
  */
object Windows {

  /** row_number: latest order per customer (deduplicate-to-latest — the
    * deterministic version of the reference's first-wins duplicate-key rule,
    * `hashjoin_regtest.cpp:51-53`). */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables(spark, dir).orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"))
      .orderBy(col("o_custkey"))
  }

  /** Running (prefix) sum of event value per user in time order. */
  def windowRunningSum(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, dir).events
      .withColumn("running", round(sum(col("value")).over(w), 2))
      .select(col("event_id"), col("user_id"), col("running"))
      .orderBy(col("event_id"))
  }

  /** lag: inter-event gap in microseconds per user (sessionization
    * building block). */
  def windowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .select(
        col("event_id"), col("user_id"),
        (unix_micros(col("ts")) - coalesce(col("prev_us"), unix_micros(col("ts"))))
          .as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** SCD2 validity-interval build (q206) — the slowly-changing-dimension
    * BUILD that q27/q163 later READ: the per-user event log becomes one
    * validity row per observation, [valid_from, valid_to) with
    * valid_to = the next observation's timestamp and −1 as the
    * open-ended sentinel (the q27 convention — a nullable int64 would
    * drift to float64 in the oracle compare). Ordering ties break on
    * event_id, so duplicate timestamps chain deterministically. This is
    * the standard "event log → dimension table" materialization every
    * warehouse runs before as-of reads.
    *
    * Scale shape: ONE keyed window (shuffle on user_id, per-user sort —
    * exactly q24's plan with lead instead of lag); output mass = input
    * mass. */
  def scd2Build(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("valid_from_us", unix_micros(col("ts")))
      .withColumn("valid_to_us",
        coalesce(lead(unix_micros(col("ts")), 1).over(w), lit(-1L)))
      .select(col("user_id"), col("event_id"), col("valid_from_us"),
        col("valid_to_us"), col("value"))
      .orderBy(col("user_id"), col("valid_from_us"), col("event_id"))
  }

  /** Sliding rows frame: moving average of the last 3 orders per customer,
    * computed in exact integer cents (avg of doubles can land on exact
    * half-cent boundaries where engines' rounding of binary doubles
    * legitimately differs — integer arithmetic sidesteps that). */
  def windowMovingAvg(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-2, Window.currentRow)
    Tables(spark, dir).orders
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("mavg_cents",
        (sum(col("cents")).over(w) / count(lit(1)).over(w)).cast("long"))
      .select(col("o_orderkey"), col("o_custkey"), col("mavg_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** Numeric RANGE frame: for each order, the sum (in exact cents) of all
    * same-status orders priced within 10,000 below it — a value-based
    * frame (includes ties), not a row-count frame. */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderstatus"))
      .orderBy(col("cents"))
      .rangeBetween(-1000000L, Window.currentRow)
    Tables(spark, dir).orders
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("near_sum_cents", sum(col("cents")).over(w))
      .select(col("o_orderkey"), col("near_sum_cents"))
      .orderBy(col("o_orderkey"))
  }

  /** Ranking battery: rank / dense_rank / ntile / percent_rank over a
    * global total order — DISTRIBUTED. An unpartitioned `Window.orderBy`
    * funnels the whole table into ONE task (exactly what global quantile
    * binning over 100 TB of quality scores must not do), so this uses the
    * same two-pass pattern as the CSR prefix sum (GraphOps.adjacencyBuildFrom):
    *
    *   1. value-bucket rows by the leading sort key (fixed-width bins over
    *      the observed [min,max] — deterministic, no sampling; equal keys
    *      always land in the same bucket, so ties never span buckets);
    *   2. per-bucket counts + distinct-key counts (≤ #buckets rows,
    *      metadata scale) are cumulated on the driver into exclusive
    *      rank/dense-rank base offsets and broadcast back;
    *   3. each bucket computes local rank/dense_rank/row_number in
    *      parallel; global rank = bucket base + local rank, and
    *      ntile/percent_rank derive arithmetically from the global
    *      row_number + total count.
    *
    * The ordering here (`c_acctbal DESC, c_custkey`) has a unique
    * tiebreaker, but the derivation stays general: rank offsets use row
    * counts, dense-rank offsets use distinct-full-key counts. */
  def windowRanking(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir).customer
      // exact integer sort key: monotone in c_acctbal (2-decimal money)
      .select(col("c_custkey"), round(col("c_acctbal") * 100).cast("long").as("cents"))
    // descending order ⇒ bucket 0 holds the largest values
    val bucketed = GlobalOrder
      .bucketizeByValue(cust, col("cents"), desc = true)
    GraftCache.persisted("Windows.rank", bucketed)
    // pass 1: per-bucket (row count, distinct-ordering-key count) →
    // exclusive cumulative bases, computed on ≤ #buckets rows
    val (bases, totals) = GlobalOrder.exclusiveOffsets(bucketed, Seq(
      count(lit(1)).as("cnt"),
      count_distinct(struct(col("cents"), col("c_custkey"))).as("dcnt")))
    val total = totals.head
    import spark.implicits._
    val offsets = bases.map { case (b, Seq(rb, db)) => (b, rb, db) }
      .toDF("bucket", "rank_base", "dense_base")
    // pass 2: local ranks within each bucket, parallel across buckets
    val wLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("cents").desc, col("c_custkey"))
    val n = lit(total)
    val ranked = bucketed
      .withColumn("lrnk", rank().over(wLocal).cast("long"))
      .withColumn("ldrnk", dense_rank().over(wLocal).cast("long"))
      .withColumn("lrn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("bucket"))
      .withColumn("rnk", col("rank_base") + col("lrnk"))
      .withColumn("drnk", col("dense_base") + col("ldrnk"))
      .withColumn("rn", col("rank_base") + col("lrn"))
    // ntile(k): first (total mod k) tiles get ceil(total/k) rows — the SQL
    // spec's formula, computed from the global row_number
    val k = 4L
    val q = lit(total / k)
    val r = lit(total % k)
    val quartile = when(col("rn") <= (q + 1) * r,
        floor((col("rn") - 1) / (q + 1)) + 1)
      .otherwise(r + floor((col("rn") - r * (q + 1) - 1) / q) + 1)
    val prank =
      if (total <= 1) lit(0.0)
      else round((col("rnk") - 1).cast("double") / lit((total - 1).toDouble), 6)
    ranked.select(
      col("c_custkey"),
      col("rnk"),
      col("drnk"),
      quartile.cast("long").as("quartile"),
      prank.as("prank"))
      .orderBy(col("c_custkey"))
  }
}
