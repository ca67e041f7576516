package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Behavioral analytics over the events table — the funnel / cohort
  * queries every product-analytics deployment of an OLAP engine runs
  * (cf. the reference's regtest event workloads). Both are exact:
  * timestamps flow through min/first aggregates untouched, offsets are
  * integer day arithmetic, so each query carries a full DuckDB oracle.
  */
object Behavioral {

  /** Ordered conversion funnel (q149): view → click → purchase, each
    * step's timestamp the EARLIEST occurrence strictly after the
    * previous step (the standard strict-ordering funnel — a click
    * before the first view does not count). Emits one row per user with
    * nullable per-step timestamps; a dashboard derives step conversion
    * by counting non-nulls.
    *
    * Scale shape: one filtered aggregate per stage, each keyed by
    * user_id — map-side combinable, and the stage relation entering
    * each join is one row per surviving user (the user DIMENSION, far
    * below event scale), so AQE broadcasts it against the event scan in
    * practice. Funnel depth is a fixed stage count, not an iteration
    * over data. */
  def eventFunnel(spark: SparkSession, dir: String): DataFrame =
    eventFunnelFrom(Tables(spark, dir).events)

  /** Same, over an arbitrary (user_id, event_type, ts) event relation. */
  def eventFunnelFrom(ev: DataFrame): DataFrame = {
    val users = ev.select(col("user_id")).distinct()
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("view_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("click_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("purchase_ts"))
    users
      .join(v, Seq("user_id"), "left")
      .join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .orderBy(col("user_id"))
  }

  /** Weekly cohort retention (q150): users are cohorted by the Monday
    * week of their FIRST event; for every (cohort week, week offset)
    * cell, the number of distinct cohort members active that week — the
    * classic retention triangle. date_trunc('week') is Monday-based in
    * both engines and the offset is exact integer day arithmetic
    * (datediff/7), so the cell grid is bit-stable.
    *
    * Scale shape: first-seen is one user-keyed aggregate; activity is a
    * distinct over (user, week) — both map-side combinable; the cohort
    * join is user-keyed against the user-dimension-sized first-seen
    * relation; the final cell aggregate is (weeks × offsets) rows —
    * metadata scale. No window functions, no per-event state. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame =
    cohortRetentionFrom(Tables(spark, dir).events)

  /** Same, over an arbitrary (user_id, ts) event relation. */
  def cohortRetentionFrom(ev: DataFrame): DataFrame = {
    val firstSeen = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    val active = ev.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("week")).distinct()
    active.join(firstSeen, Seq("user_id"))
      .withColumn("week_offset",
        expr("datediff(week, cohort_week) div 7").cast("long"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      // ISO string: DATE surfaces as date vs timestamp across engines
      .select(date_format(col("cohort_week"), "yyyy-MM-dd").as("cohort_week"),
        col("week_offset"), col("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Event-type transition matrix (q176) — the first-order Markov
    * readout of user behavior: for every (prev_type, next_type) pair,
    * the count of consecutive same-user transitions and the
    * per-prev-type probability in integer permille (1000·n div
    * row-total — quantized AFTER exact integer counts, so the matrix is
    * bit-stable). Consecutive = adjacent in the user's (ts, event_id)
    * order, the same total order every sessionization query uses.
    *
    * Scale shape: one lead() window PARTITIONED BY user (parallel per
    * user, never global), then a (prev, next) aggregate — ≤ types²
    * result rows; the permille join is against the types-sized row
    * totals, broadcast by size. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    eventTransitionsFrom(Tables(spark, dir).events)

  /** Same, over an arbitrary (user_id, ts, event_id, event_type)
    * relation — ScaleSmoke runs this on the amplified event stream. */
  private[graft] def eventTransitionsFrom(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("row_total"))
    pairs.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        expr("1000 * n div row_total").as("p_pm"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Robust outlier detection (q190) — per event type, the median /
    * MAD (median absolute deviation) rule every telemetry-cleaning
    * pass runs before trusting its value column: flag rows with
    * |x − median| > 3·MAD. Mean/stddev break down under the very
    * outliers they are supposed to find (one 10⁶ value drags the mean);
    * the median pair is breakdown-resistant. Both medians are EXACT
    * integer order statistics (lower median: the rank-(n+1)÷2 element
    * of the unique (cents, event_id) order), so the whole readout is
    * bit-stable with a full oracle.
    *
    * Scale shape: event_type is a LOW-cardinality key, so a
    * type-partitioned window would sort a fifth of the corpus in one
    * task — both medians instead ride the GROUPED GlobalOrder two-pass
    * (q157's shape): value-bucketed local sorts in parallel,
    * per-(type, bucket) counts cumulated at metadata scale, the
    * rank-k row selected by global rank. The deviation join is against
    * the ≤ types-row broadcast median relation. */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame =
    robustOutliersFrom(Tables(spark, dir).events)

  /** Same, over an arbitrary (event_id, event_type, value) relation. */
  private[graft] def robustOutliersFrom(ev: DataFrame): DataFrame = {
    val c = ev.select(col("event_type"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val med = groupedLowerMedian(c, "Behavioral.med")
      .select(col("event_type"), col("v").as("med_cents"))
    val d = c.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("cents") - col("med_cents")))
    val mad = groupedLowerMedian(
        d.select(col("event_type"), col("event_id"),
          col("dev").as("cents")), "Behavioral.mad")
      .select(col("event_type"), col("v").as("mad_cents"))
    d.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("med_cents")).as("med_cents"),
        max(col("mad_cents")).as("mad_cents"),
        sum(when(col("dev") > lit(3L) * col("mad_cents"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_pm", expr("1000 * n_outliers div n_events"))
      .orderBy(col("event_type"))
  }

  /** The rank-(n+1)÷2 (lower-median) element of the (cents, event_id)
    * order per event_type, via the grouped GlobalOrder two-pass. */
  private def groupedLowerMedian(c: DataFrame,
      slot: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import c.sparkSession.implicits._
    val bucketed = GraftCache.persisted(slot, GlobalOrder
      .bucketizeForUniqueOrder(c, col("cents"), desc = false,
        col("event_id")))
    val (bases, totals) = GlobalOrder.exclusiveOffsetsBy(bucketed,
      "event_type", count(lit(1)).as("c"))
    val offsetsDf = bases.toDF("event_type", "bucket", "rn_base")
    val totalsDf = totals.toDF("event_type", "n")
    val wLocal = Window.partitionBy(col("event_type"), col("bucket"))
      .orderBy(col("cents"), col("event_id"))
    bucketed
      .join(broadcast(offsetsDf), Seq("event_type", "bucket"))
      .join(broadcast(totalsDf), Seq("event_type"))
      .withColumn("rn", col("rn_base") + row_number().over(wLocal))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("cents").as("v"))
  }

  /** Per-group trend slopes (q207) — the drift DETECTOR the monitoring
    * tier runs on every source/stream: per event type, the ordinary-
    * least-squares slope of the DAILY value total over the day index,
    * in exact closed form over the aggregated series. Aggregating to
    * days first is both the statistically right granularity for drift
    * AND the overflow fix: the per-day series has ≤ 365·years points,
    * so every OLS sum (Σx, Σy, Σxy, Σx²) fits a Long with room to
    * spare no matter how many raw events feed a day — the closed form
    * over RAW rows would overflow n·Σxy at group sizes ≈ 10⁵.
    *
    * slope_pm = floor(10⁶ · (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)): the
    * sums are exact integers; the one division runs in IEEE double
    * (both engines compute the identical correctly-rounded quotient of
    * identical operands — the q143 posture) and never survives the
    * floor. Groups with one day are excluded (zero variance).
    *
    * Scale shape: two hash aggregates — (type, day) then (type) — both
    * map-side combinable; output = one row per group. */
  def trendSlopes(spark: SparkSession, dir: String): DataFrame =
    trendSlopesFrom(Tables(spark, dir).events)

  /** The integer daily-total series shared by the monitoring tier
    * (q207 slopes, q208 correlations): (event_type, day index, cents). */
  private def dailySeries(ev: DataFrame): DataFrame = ev
    .groupBy(col("event_type"),
      datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("x"))
    .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))

  /** Daily-series correlation matrix (q208) — q207's companion
    * question: WHICH metrics co-move. Pearson correlation between
    * every pair of event types' daily value-total series, computed in
    * closed form over exact integer sums. Envelope: the binding term is
    * (Σy)², which squares the n_days-day SUM of daily totals — so the
    * safe operating point is |Σ daily cents over the window| &lt; ~3·10⁹,
    * i.e. |daily cents| ≲ 3·10⁹ / n_days per type (≈ $80k/day at a
    * 365-day window, not the per-day $30M a single squared daily total
    * would allow) — past that, pre-scale the unit by one constant; ANSI
    * fails fast rather than corrupting. The two variance factors are
    * cast to double BEFORE their product (each fits a Long; the
    * product need not); the sqrt and one division run in IEEE double
    * on identical operands in both engines and die under the
    * floor(·10⁶). Days missing from either series drop from that
    * pair (inner join on the day) — the standard pairwise-complete
    * convention. Output ≤ types² rows.
    *
    * Scale shape: the (type, day) aggregate, a day-keyed self-join of
    * a ≤ types·days relation (metadata next to the raw events), one
    * pair aggregate. */
  def dailyCorrelations(spark: SparkSession, dir: String): DataFrame =
    dailyCorrelationsFrom(Tables(spark, dir).events)

  /** Same, over an arbitrary (event_type, ts, value) relation. */
  private[graft] def dailyCorrelationsFrom(ev: DataFrame): DataFrame = {
    val d = dailySeries(ev)
    val joined = d.select(col("event_type").as("ta"), col("x"),
        col("y").as("ya"))
      .join(d.select(col("event_type").as("tb"), col("x"),
        col("y").as("yb")), Seq("x"))
      .filter(col("ta") < col("tb"))
    joined.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("ya")).as("sa"), sum(col("yb")).as("sb"),
        sum(col("ya") * col("yb")).as("sab"),
        sum(col("ya") * col("ya")).as("saa"),
        sum(col("yb") * col("yb")).as("sbb"))
      .filter(col("n_days") >= 2)
      .select(col("ta"), col("tb"), col("n_days"),
        floor((col("n_days") * col("sab") - col("sa") * col("sb"))
          .cast("double") * lit(1e6)
          / sqrt((col("n_days") * col("saa") - col("sa") * col("sa"))
              .cast("double")
            * (col("n_days") * col("sbb") - col("sb") * col("sb"))
              .cast("double"))).as("corr_pm"))
      .orderBy(col("ta"), col("tb"))
  }

  /** Same, over an arbitrary (event_type, ts, value) relation. */
  private[graft] def trendSlopesFrom(ev: DataFrame): DataFrame = {
    val daily = dailySeries(ev)
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n_days") >= 2)
      .select(col("event_type"), col("n_days"),
        floor((col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast("double") * lit(1e6)
          / (col("n_days") * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("slope_pm"))
      .orderBy(col("event_type"))
  }
}
