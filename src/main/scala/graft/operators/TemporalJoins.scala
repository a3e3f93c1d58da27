package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables

/** Temporal join operators Spark lacks as built-ins, expressed with
  * shuffle-friendly plans instead of theta joins:
  *
  *  - as-of join: union-tag + running last_value over (key, time) — ONE
  *    shuffle on the key, no pair blow-up, any data size;
  *  - range join: coarse time-bucket equality join (+ adjacent buckets) with
  *    an exact range filter — pairs bounded by bucket co-occupancy instead
  *    of |L|×|R|.
  *
  * Both would be candidates for a custom LogicalPlan + SparkStrategy if the
  * composition ever proved limiting; today the compositions produce exactly
  * the plans a custom operator would (SURVEY §7.3 preference order (a)).
  */
object TemporalJoins {

  /** As-of join over the events table: each purchase matched to the most
    * recent view by the same user at-or-before the purchase time (the
    * "attribution" query). Plan: tag views and purchases, union, one window
    * pass ordered by (ts, tag) with views first on ties, keep purchases.
    */
  def purchaseAttribution(spark: SparkSession, sfDir: String): DataFrame =
    purchaseAttributionOf(Tables.events(spark, sfDir))

  /** [[purchaseAttribution]] over an arbitrary events frame. */
  def purchaseAttributionOf(ev: DataFrame): DataFrame = {
    val tagged = ev.where(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        col("event_type"),
        // views sort before purchases at equal ts → ASOF's <= semantics
        when(col("event_type") === "view", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_view_ts",
        last(when(col("tag") === 0, col("ts")), ignoreNulls = true).over(w))
      .withColumn("last_view_id",
        last(when(col("tag") === 0, col("event_id")), ignoreNulls = true).over(w))
      .where(col("tag") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), round(col("value"), 2).as("amount"),
        col("last_view_id"), col("last_view_ts"),
        when(col("last_view_ts").isNotNull,
          (unix_timestamp(col("ts")) - unix_timestamp(col("last_view_ts"))))
          .otherwise(lit(-1L)).as("seconds_since_view"))
  }

  /** Attribution-window sensitivity sweep: for each pinned lookback window,
    * how many purchases have a same-user view within that many seconds
    * before them — the curve that tells a marketing team what an
    * attribution-window choice actually costs (the q126
    * threshold-sweep discipline applied to [[purchaseAttribution]]).
    * Unattributed purchases (no prior view ever) never match any window.
    *
    * Scale shape: the as-of stage is [[purchaseAttribution]]'s one
    * user-keyed window; the sweep explodes each purchase gap into
    * |windows| rows (a pinned constant factor, map-side combinable into
    * the |windows|-row output).
    */
  def attributionWindows(spark: SparkSession, sfDir: String,
      windows: Seq[Long] = Seq(60L, 600L, 3600L, 86400L)): DataFrame =
    attributionWindowsOf(Tables.events(spark, sfDir), windows)

  /** [[attributionWindows]] over an arbitrary events frame. */
  def attributionWindowsOf(ev: DataFrame,
      windows: Seq[Long] = Seq(60L, 600L, 3600L, 86400L)): DataFrame =
    purchaseAttributionOf(ev)
      .select(col("seconds_since_view"),
        explode(typedlit(windows)).as("window_s"))
      .groupBy(col("window_s"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(when(col("seconds_since_view") >= 0
          && col("seconds_since_view") <= col("window_s"), 1L).otherwise(0L))
          .as("n_attributed"))
      .select(col("window_s"), col("n_purchases"), col("n_attributed"),
        round(col("n_attributed").cast("double") / col("n_purchases"), 6)
          .as("attribution_rate"))

  /** Generic bucketed range join: rows of `left` matched to rows of `right`
    * whose [lo, hi) interval contains leftTs. Buckets of `bucketSeconds`
    * on both sides (intervals explode into every bucket they overlap), join
    * on (equality) bucket, exact filter afterwards.
    */
  def bucketedRangeJoin(left: DataFrame, leftTs: Column,
      right: DataFrame, lo: Column, hi: Column,
      bucketSeconds: Long): (DataFrame, DataFrame, Column) = {
    val lb = left.withColumn("__bucket", floor(unix_timestamp(leftTs) / bucketSeconds))
    val loBucket = floor(unix_timestamp(lo) / bucketSeconds)
    val hiBucket = floor((unix_timestamp(hi) - 1) / bucketSeconds)
    // empty/degenerate intervals (hi <= lo) must produce NO buckets —
    // Spark's sequence(a, b) counts DOWNWARD when b < a and would emit
    // spurious buckets for a zero-length interval
    val rb = right.withColumn("__bucket",
      explode(when(hiBucket >= loBucket, sequence(loBucket, hiBucket))
        .otherwise(array().cast("array<long>"))))
    (lb, rb, col("__bucket"))
  }

  /** The SAME query as [[shipmentsNearOrder]] but written as the naive
    * theta join — `l_shipdate BETWEEN o_orderdate AND o_orderdate + 1 day`
    * with no manual bucketing — and planned by the
    * [[graft.plans.RangeJoinRewrite]] optimizer rule, which turns it into
    * the bucketed equality-join shape at optimization time. This is the
    * production form: the user states the interval predicate, the rule
    * picks the scalable plan (without it, Catalyst's only option is an
    * O(n·m) BroadcastNestedLoopJoin). It runs on the caller's session:
    * the rule fires on the plan's shape, with its one-day buckets.
    */
  def shipmentsNearOrderRewritten(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_shipdate")).agg(count(lit(1)).as("__cnt"))
    // keep `hi` the same timestamp flavor (NTZ) as l_shipdate: the rule
    // conservatively requires type-aligned bounds — a mixed tz/ntz pair
    // would make Spark cast one side, and cross-zone bucketing is unsound
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"),
        (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("__hi"))
    li.join(o,
        col("l_shipdate") >= col("o_orderdate") && col("l_shipdate") < col("__hi"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(col("__cnt")).as("shipments_1d"))
  }

  /** Range-join query: per order, how many lineitems (any order) shipped
    * within [orderdate, orderdate + 1 day) — same-day demand density. The
    * bucket join bounds the pair space to bucket co-occupancy: a range
    * join's cost is inherently (rows × rows-per-window), so the window —
    * not the algorithm — is the knob that keeps it linear-ish; pick
    * `bucketSeconds` ≈ window length so each probe touches ≤ 2 buckets.
    */
  def shipmentsNearOrder(spark: SparkSession, sfDir: String): DataFrame = {
    // aggregate-below-join: collapse the probe side to one row per distinct
    // ship timestamp BEFORE the range join (600k rows → ~2.4k at sf0.1),
    // then sum the pre-counts — the join touches thousands of rows, not
    // millions, and the result is identical
    val li = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_shipdate")).agg(count(lit(1)).as("__cnt"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderdate"),
        (unix_timestamp(col("o_orderdate")) + 86400L).as("__hi_s"))
      .withColumn("__hi", timestamp_seconds(col("__hi_s"))).drop("__hi_s")
    val (lb, rb, bucket) = bucketedRangeJoin(
      li, col("l_shipdate"), o, col("o_orderdate"), col("__hi"),
      bucketSeconds = 86400L)
    lb.join(rb, "__bucket")
      .where(col("l_shipdate") >= col("o_orderdate") && col("l_shipdate") < col("__hi"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(sum(col("__cnt")).as("shipments_1d"))
  }

  /** Multi-touch LINEAR attribution (q313): each purchase's cents split
    * equally across the same user's views in the hour before it (strictly
    * earlier), rolled up to credited revenue per view-day — the
    * multi-touch complement of [[purchaseAttribution]]'s last-touch
    * answer. Credit is EXACTLY conserved: cents div k per view with the
    * remainder assigned to the most recent view, so Σ credited equals Σ
    * attributed purchase cents to the cent (specced).
    *
    * Scale shape: the q43 bucketed range join — views carry their hour
    * bucket, purchases probe their two candidate buckets (a pinned ×2
    * explode), the join is pure equality on (user, bucket) with the time
    * window as a residual filter; per-purchase k and recency rank ride
    * one (purchase)-keyed window over the matched pairs only; the daily
    * rollup is map-side combinable.
    */
  def linearAttribution(spark: SparkSession, sfDir: String,
      windowSec: Long = 3600L): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("vts"), col("event_id").as("vid"),
        floor(unix_micros(col("ts")) / (windowSec * 1000000L)).as("bucket"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"),
        col("event_id").as("pid"),
        round(col("value") * 100, 0).cast("long").as("cents"),
        floor(unix_micros(col("ts")) / (windowSec * 1000000L)).as("pb"))
      .withColumn("bucket", explode(array(col("pb") - 1, col("pb"))))
    val matched = purchases.join(views, Seq("user_id", "bucket"))
      .where(col("vts") >= col("pts") - expr(s"INTERVAL $windowSec SECONDS")
        && col("vts") < col("pts"))
    val wK = Window.partitionBy(col("pid"))
    val wRank = Window.partitionBy(col("pid"))
      .orderBy(col("vts").desc, col("vid").desc)
    matched
      .withColumn("k", count(lit(1)).over(wK))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("credit_cents",
        expr("cents div k") + when(col("rn") === 1, expr("cents % k"))
          .otherwise(lit(0L)))
      .groupBy(to_date(col("vts")).as("view_day"))
      .agg(sum(col("credit_cents")).cast("long").as("credited_cents"),
        count(lit(1)).as("n_credited_views"),
        countDistinct(col("pid")).as("n_purchases"))
  }

  /** FORWARD as-of join (q312): each purchase matched to the same user's
    * NEXT error event strictly after it, bounded by a staleness horizon —
    * the post-purchase failure diagnostic ("did checkout errors follow
    * the sale?"), and the time-reversed twin of [[purchaseAttribution]]
    * (which Spark also lacks natively in the forward direction). Events
    * past the horizon report the −1 sentinel and are counted as clean.
    *
    * Plan: the same union-tag single-window recipe, mirrored — ordered
    * (ts, tag) with errors AFTER purchases on ties (strictly-after
    * semantics), frame (currentRow, unboundedFollowing), first_value
    * ignoring nulls. One user-keyed window pass; the horizon is a
    * post-window filter, not a second pass.
    */
  def purchaseNextError(spark: SparkSession, sfDir: String,
      horizonSec: Long = 3600L): DataFrame =
    purchaseNextErrorOf(Tables.events(spark, sfDir), horizonSec)

  /** [[purchaseNextError]] over an arbitrary events frame. */
  def purchaseNextErrorOf(ev: DataFrame, horizonSec: Long = 3600L): DataFrame = {
    val tagged = ev.where(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        // purchases sort before errors at equal ts → strictly-after
        when(col("event_type") === "purchase", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    tagged
      .withColumn("next_err_ts",
        first(when(col("tag") === 1, col("ts")), ignoreNulls = true).over(w))
      .withColumn("next_err_id",
        first(when(col("tag") === 1, col("event_id")), ignoreNulls = true).over(w))
      .where(col("tag") === 0)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"),
        when(col("next_err_ts").isNotNull
            && unix_timestamp(col("next_err_ts")) - unix_timestamp(col("ts"))
              <= horizonSec,
          unix_timestamp(col("next_err_ts")) - unix_timestamp(col("ts")))
          .otherwise(lit(-1L)).as("seconds_to_error"),
        when(col("next_err_ts").isNotNull
            && unix_timestamp(col("next_err_ts")) - unix_timestamp(col("ts"))
              <= horizonSec, col("next_err_id"))
          .otherwise(lit(null).cast("long")).as("error_id"))
  }
}
