package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables

/** Relational coverage queries over the TPC-H-ish testdata star schema.
  *
  * These exercise the full relational operator surface the reference uses
  * (hash aggregation, conditional aggregates, window+rank top-1, left join —
  * SURVEY.md §2.3-§2.8) plus the join/sort/limit/set-op surface any engine
  * with those capabilities must expose, expressed Spark-first so Catalyst
  * does pushdown/pruning/broadcast selection.
  *
  * Scale notes (100 TB): every query here groups or joins on high-cardinality
  * keys via hash shuffle; dimension tables (region/nation/supplier/part) are
  * broadcast — `broadcast()` hints make that explicit rather than relying on
  * stats. Aggregates are all partial+final (map-side combine) by construction.
  */
object Relational {

  /** Pricing summary (reference A1-style multi-aggregate groupBy,
    * spark_batch_job.py:27-41 pattern). Doubles rounded so the DuckDB oracle
    * hash-compares despite summation-order float drift.
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        count(lit(1)).as("count_order"))

  /** Top-10 unshipped-revenue orders: 3-way join + agg + orderBy + limit.
    * The customer→orders join shuffles on the key; lineitem joins on
    * l_orderkey. Sort+limit is a TakeOrderedAndProject (no full sort).
    */
  def topRevenueOrders(spark: SparkSession, sfDir: String): DataFrame = {
    // to_timestamp evaluates in the session timezone (pinned UTC) — a
    // java.sql.Timestamp literal would use the JVM default TZ and diverge
    // from the oracle's TIMESTAMP literal on non-UTC machines
    val cutoff = to_timestamp(lit("1998-07-01 00:00:00"))
    val c = Tables.customer(spark, sfDir).where(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, sfDir).where(col("o_orderdate") < cutoff)
    val l = Tables.lineitem(spark, sfDir).where(col("l_shipdate") > cutoff)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Revenue by nation for one region: star join with broadcast dimensions
    * (region, nation small → broadcast; orders/lineitem shuffle on keys).
    */
  def regionRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val r = Tables.region(spark, sfDir).where(col("r_name") === "ASIA")
    val n = Tables.nation(spark, sfDir)
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** Customer order rollup via LEFT join — the reference's single join shape
    * (J1, spark_batch_job.py:69-71): an aggregate left-joined back onto an
    * entity table, customers with zero orders kept.
    */
  def customerOrderSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val perCust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("order_count"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
    c.join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("order_count"), lit(0L)).as("order_count"),
        coalesce(col("total_price"), lit(0.0)).as("total_price"))
  }

  /** Semi/anti join coverage: customers WITH at least one open order and
    * customers WITHOUT any order, via left_semi / left_anti (EXISTS / NOT
    * EXISTS — no row duplication, no post-join distinct needed).
    */
  def customersWithOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  def customersWithoutOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** Set operations: nations having customers vs nations having suppliers —
    * UNION (distinct), INTERSECT, EXCEPT, tagged and unioned into one result.
    */
  def nationSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val custN = Tables.customer(spark, sfDir).select(col("c_nationkey").cast("int").as("nationkey")).distinct()
    val suppN = Tables.supplier(spark, sfDir).select(col("s_nationkey").cast("int").as("nationkey")).distinct()
    custN.union(suppN).distinct().withColumn("set_op", lit("union"))
      .unionByName(custN.intersect(suppN).withColumn("set_op", lit("intersect")))
      .unionByName(custN.except(suppN).withColumn("set_op", lit("except")))
  }

  /** Window-function top-k: top 3 parts by revenue per supplier
    * (reference W1-W2 row_number idiom generalized to k>1, with a
    * deterministic tiebreak; Spark plans WindowGroupLimit so only k rows per
    * key survive the sort — no full materialization).
    */
  def topPartsPerSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val perPart = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"))
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("revenue").desc, col("l_partkey"))
    perPart.withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
  }

  /** Distinct aggregation: exact countDistinct (reference A4) per group. */
  def distinctParts(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"))

  /** Exact interpolated percentiles per group (median + tails), computed
    * over the VALUE GRAIN instead of Spark's `percentile` aggregate
    * (r17, VERDICT r16 item 3). The built-in exact aggregate buffers a
    * value→count map of EVERY distinct value per group inside one
    * ObjectHashAggregate buffer — an unbounded per-group allocation that
    * shuffles the whole histogram into a single reducer per group and
    * sorts it there (guide §5; 33 MB shuffled for 3 rows at sf0.1). This
    * form computes the identical doubles with bounded operators:
    *
    *  1. melt the two measured columns onto one (colid, v) axis,
    *  2. ONE map-side-combinable count per (group, colid, v) — the same
    *     value→count histogram, as rows, with partial aggregation,
    *  3. cumulative counts via a window partitioned BY (group, colid)
    *     (never single-partition; parallel across group×column), and
    *  4. Spark's own `Percentile.getPercentile` interpolation replicated
    *     expression-for-expression over those exact longs:
    *     pos = (N−1)·p; lower = floor(pos); higher = ceil(pos);
    *     lowerKey/higherKey = min v with cum ≥ lower+1 / higher+1
    *     (= its binary search over accumulated counts);
    *     result = (higher−pos)·lowerKey + (pos−lower)·higherKey, with the
    *     no-fraction and equal-key shortcuts. All inputs to the IEEE
    *     expression are exact (longs, and v is double in this schema), so
    *     the output doubles are BIT-IDENTICAL to the aggregate's
    *     (pinned by Round17OpsSpec against `percentile` itself).
    *
    * Scale shape: the grain is bounded by distinct values per (group,
    * column); the heaviest stage is the partial-aggregated grain count.
    * The per-(group,colid) cumulative window sorts only that group's
    * grain — same work `percentile`'s reducer did, minus the map buffer,
    * with map-side combine and spillable sort. At 100 TB swap in
    * `approx_percentile` (t-digest-style sketch) if the value domain is
    * unbounded — same call shape as [[pricePercentilesApprox]].
    */
  def pricePercentiles(spark: SparkSession, sfDir: String): DataFrame =
    exactPercentilesByFlag(Tables.lineitem(spark, sfDir))

  /** [[pricePercentiles]] over an arbitrary frame with l_returnflag,
    * l_extendedprice, l_quantity (split out so the bit-exactness spec can
    * drive adversarial synthetic frames through the same code path).
    */
  private[graft] def exactPercentilesByFlag(li: DataFrame): DataFrame = {
    val spark = li.sparkSession
    val shufflePartitions =
      spark.sessionState.conf.numShufflePartitions
    // per-(group, column) non-null counts from an independent (parallel)
    // 3-row aggregate branch — NOT a re-aggregation of the 594k-row grain
    // (measured 1.5 s of redundant hash-agg time)
    val ns = li.groupBy(col("l_returnflag"))
      .agg(count(col("l_extendedprice")).as("n_price"),
        count(col("l_quantity")).as("n_qty"))
      .selectExpr("l_returnflag",
        "stack(2, 'price', n_price, 'qty', n_qty) AS (colid, n)")
    // (colid, output column, percentage) — literal spine
    val pcts = spark.sql(
      """SELECT * FROM VALUES ('price','p50_price',0.5D),
        |('price','p95_price',0.95D),('qty','p50_qty',0.5D)
        |AS t(colid, pname, p)""".stripMargin)
    // Percentile: position = (N−1) * percentage (long→double exact for
    // any feasible N); floor/ceil on double return LONG in Spark SQL,
    // matching .floor.toLong / .ceil.toLong
    val positions = ns.join(pcts, Seq("colid"))
      .select(col("l_returnflag"), col("colid"), col("pname"),
        ((col("n") - 1).cast("double") * col("p")).as("pos"))
      .withColumn("lo", floor(col("pos")))
      .withColumn("hi", ceil(col("pos")))
    // One INDEPENDENT branch per measured column (a stack() melt was
    // tried and measured slower: it doubles the rows through the scan
    // stage's partial aggregate). Per branch: map-side-combined value
    // grain, a pinned-count spread on the window key (REPARTITION_BY_NUM
    // — AQE's bytes-based coalescer otherwise folds the compute-bound
    // cumulative sort to 1-2 tasks, the documentsSpread rationale), the
    // cumulative window, then a codegen boundary FILTER that keeps only
    // the ≤2 rows per percentile whose cumulative range straddles a
    // target — cum − c < target ≤ cum, i.e. binarySearchCount's answer —
    // before any aggregate touches the stream (the min-over-everything
    // form hash-aggregated 1.2M joined rows; measured ~2 s). The min()
    // below stays exact over the kept superset: every kept row with
    // cum ≥ target has v ≥ the target's boundary value.
    def branch(vcol: String, colidVal: String): DataFrame = {
      val grain = li.select(col("l_returnflag"), col(vcol).as("v"))
        .where(col("v").isNotNull)
        .groupBy(col("l_returnflag"), col("v"))
        .agg(count(lit(1)).as("c"))
        .repartition(shufflePartitions, col("l_returnflag"))
      // values are distinct within a group, so ROWS ≡ default RANGE frame
      val w = Window.partitionBy(col("l_returnflag")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val ranked = grain.withColumn("cum", sum(col("c")).over(w))
      ranked.join(
          broadcast(positions.where(col("colid") === colidVal)),
          Seq("l_returnflag"))
        .where((col("cum") - col("c") < col("lo") + 1
            && col("lo") + 1 <= col("cum"))
          || (col("cum") - col("c") < col("hi") + 1
            && col("hi") + 1 <= col("cum")))
    }
    val bounds = branch("l_extendedprice", "price")
      .unionAll(branch("l_quantity", "qty"))
      .groupBy(col("l_returnflag"), col("colid"), col("pname"), col("pos"),
        col("lo"), col("hi"))
      .agg(min(when(col("cum") >= col("lo") + 1, col("v"))).as("lk"),
        min(when(col("cum") >= col("hi") + 1, col("v"))).as("hk"))
    // getPercentile's three arms, verbatim: integral position → lowerKey;
    // equal keys → lowerKey; else the pinned two-product interpolation
    val res = bounds.withColumn("r",
      when(col("hi") === col("lo"), col("lk"))
        .when(col("lk") === col("hk"), col("lk"))
        .otherwise((col("hi").cast("double") - col("pos")) * col("lk")
          + (col("pos") - col("lo").cast("double")) * col("hk")))
    val pivoted = res.groupBy(col("l_returnflag")).agg(
      round(max(when(col("pname") === "p50_price", col("r"))), 4)
        .as("p50_price"),
      round(max(when(col("pname") === "p95_price", col("r"))), 4)
        .as("p95_price"),
      round(max(when(col("pname") === "p50_qty", col("r"))), 4)
        .as("p50_qty"))
    // group spine from the count branch (it groups ALL rows, so a group
    // whose values are all NULL still emits a row with NULL percentiles,
    // exactly like the aggregate — without a third scan)
    ns.select(col("l_returnflag")).distinct()
      .join(pivoted, Seq("l_returnflag"), "left")
  }

  /** Scale path for [[pricePercentiles]]: `percentile_approx` (KLL-style
    * sketch, fixed accuracy parameter) replaces the exact aggregate whose
    * per-group value buffer grows with the data. At 100 TB the exact form
    * concentrates each group's values on one reducer; the sketch stays
    * constant-size and merges map-side. Correctness gates keep the exact
    * form (q38) — the sketch is not engine-portably hash-comparable.
    */
  def pricePercentilesApprox(spark: SparkSession, sfDir: String,
      accuracy: Int = 10000): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(accuracy)).as("p50_price"),
        percentile_approx(col("l_extendedprice"), lit(0.95), lit(accuracy)).as("p95_price"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(accuracy)).as("p50_qty"))

  /** Hierarchical totals via ROLLUP (returnflag → linestatus → grand
    * total) with grouping_id to label the levels — subtotals in one pass
    * (Expand + single shuffle), not one query per level.
    */
  def revenueRollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
        count(lit(1)).as("n_rows"),
        grouping_id().cast("int").as("gid"))

  /** CUBE: the full 2ⁿ grouping-set lattice over (event_type, day_of_week)
    * — every marginal and the grand total in ONE pass (Spark expands the
    * cube into grouping sets inside a single Expand + hash aggregate; no
    * repeated scans, no union of rollups). `grouping()` markers
    * disambiguate a genuine NULL group value from a rolled-up level, the
    * same contract as [[revenueRollup]]'s grouping_id. Cube dimensions
    * stay bounded-cardinality by design (5 types × 7 days); cubing an
    * unbounded key would multiply the shuffle by the lattice size.
    */
  def eventCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        date_format(col("ts"), "EEEE").as("day_of_week"), col("user_id"))
      .cube(col("event_type"), col("day_of_week"))
      .agg(grouping(col("event_type")).cast("int").as("g_type"),
        grouping(col("day_of_week")).cast("int").as("g_dow"),
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("event_type"), col("day_of_week"),
        col("g_type"), col("g_dow"), col("n_events"), col("n_users"))

  /** Pivot: per-user event-type counts as columns. Spark's pivot plans as
    * conditional aggregates (one shuffle); values are pinned so the schema
    * is static — never pivot on unbounded cardinality at scale.
    */
  def eventTypePivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)

  /** Window-frame analytics: per-customer running order total
    * (rowsBetween unbounded-preceding), previous/next order amounts
    * (lag/lead), and order sequence number — the frame/offset surface the
    * reference never used but any session analytics eventually needs.
    */
  def customerOrderTimeline(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice"), 2).as("price"),
        row_number().over(w).as("order_seq"),
        round(sum(col("o_totalprice"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_total"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"))
  }

  /** Fixed-bin histogram of the events value column (floor-binning — the
    * groupBy form every engine shares; width_bucket is sugar over it).
    */
  def valueHistogram(spark: SparkSession, sfDir: String, binWidth: Double = 25.0): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(floor(col("value") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 2).as("min_value"),
        round(max(col("value")), 2).as("max_value"))

  /** Population Stability Index per event type between the two pinned
    * event cohorts (event_id parity — the deterministic stand-in for
    * "yesterday's batch vs today's"): PSI = Σ_bins (p−q)·ln(p/q) over the
    * [[valueHistogram]] bin grid — the distribution-drift alarm every
    * monitoring pipeline puts on its value columns (PSI > 0.2 = act).
    * One-sided bins (mass in only one cohort) are COUNTED and excluded
    * from the sum rather than smoothed — the exclusion is reported, not
    * silent.
    *
    * Determinism: per-bin terms round once at 6 dp then sum as ×10⁶
    * fixed-point longs (the q103 KL recipe; ln per the q90 contract).
    * Scale shape: one (type, bin) map-side-combinable aggregate; the
    * per-type totals join back by broadcast (|types|-sized); output is
    * |types|-bounded.
    */
  def valueDriftPsi(spark: SparkSession, sfDir: String,
      binWidth: Double = 25.0): DataFrame = {
    val e = Tables.events(spark, sfDir)
      .select(col("event_type"), pmod(col("event_id"), lit(2L)).as("cohort"),
        floor(col("value") / binWidth).cast("long").as("bin"))
    val cb = e.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b"))
    val tot = cb.groupBy(col("event_type"))
      .agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    val p = col("n_a").cast("double") / col("t_a")
    val q = col("n_b").cast("double") / col("t_b")
    cb.join(broadcast(tot), "event_type")
      .select(col("event_type"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round((p - q) * log(p / q), 6)).otherwise(lit(0.0)).as("term"),
        (col("n_a") === 0 || col("n_b") === 0).cast("long").as("onesided"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_bins"),
        sum(col("onesided")).as("n_onesided"),
        round(sum(round(col("term") * 1e6).cast("long")).cast("double") / 1e6, 6)
          .as("psi"))
  }

  /** String-function coverage: case, trim/pad, substring, regexp_replace,
    * concat, length, reverse, instr-style position — one deterministic
    * projection over part.
    */
  def stringKitchen(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        upper(col("p_name")).as("upper_name"),
        initcap(col("p_name")).as("title_name"),
        length(col("p_name")).cast("long").as("name_len"),
        lpad(col("p_brand"), 12, "#").as("padded_brand"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        reverse(col("p_name")).as("reversed"),
        substring(col("p_name"), 2, 5).as("middle"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        instr(col("p_name"), " ").cast("long").as("space_pos"))

  /** String split projection — the reference's `split(category_code, ".")`
    * main/sub-category derivation (P9, spark_stream.py:70-71), applied to
    * part.p_name ("cold widget"). The reference's regex-dot bug
    * is deliberately fixed: we split on the literal separator.
    */
  def partCategories(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .select(col("p_partkey"),
        split(col("p_name"), " ").getItem(0).as("main_category"),
        split(col("p_name"), " ").getItem(1).as("sub_category"),
        element_at(split(col("p_name"), " "), -1).as("last_category"))

  /** Benford leading-digit audit of order totals — the classic
    * fabricated-data screen: naturally-grown multiplicative amounts put
    * ~30.1% of leading digits at 1 (share of d = log10(1+1/d)); uniform
    * or synthetic generators sit near 1/9 each. Output per digit: count,
    * observed share, the Benford expectation, and |obs − exp| — the
    * per-digit deviation a pipeline alarms on before trusting an
    * upstream feed.
    *
    * Determinism: the leading digit is extracted through the INTEGER
    * route (floor → long → first character of its decimal rendering) —
    * never float log10/pow, whose cross-engine rounding is untrusted.
    * Shares are exact integer ratios; the only transcendental is ln on
    * identical doubles, which both engines agree on at the 6-dp gate;
    * the deviation is a difference of two already-6-dp-rounded values.
    *
    * Scale shape: one map-side-combinable count into ≤ 9 digit rows,
    * then a broadcast cross join of the one-row total — the A11 shape;
    * nothing leaves the scan unaggregated.
    */
  def benfordOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.orders(spark, sfDir)
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    val total = counts.agg(sum(col("n_orders")).as("total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share",
        round(col("n_orders").cast("double") / col("total"), 6))
      .withColumn("benford_share",
        round(log((col("digit") + lit(1)).cast("double") / col("digit"))
          / log(lit(10.0)), 6))
      .select(col("digit"), col("n_orders"), col("share"), col("benford_share"),
        round(abs(col("share") - col("benford_share")), 6).as("abs_dev"))
  }

  /** Zone-map skipping audit — per-shard min/max ranges of `l_shipdate`
    * under two physical layouts, and whether a pinned quarter predicate
    * (`1995-03-01 .. 1995-05-31`) could SKIP each shard entirely. This is
    * the data-layout decision that dominates 100 TB scan cost: parquet
    * row-group / file pruning only fires when the min/max range of a file
    * excludes the predicate, which depends on how rows were clustered at
    * write time. The audit quantifies it for the two canonical layouts:
    * hash-by-key (`l_orderkey % 32` — write-parallel, ranges span the full
    * calendar, nothing skips) vs cluster-by-month (ship-month binned into
    * 32 contiguous shards — a 3-month predicate overlaps ~2 shards and
    * skips ~30). The delta between the two `skippable` counts is the scan
    * I/O a re-clustering job would save.
    *
    * Determinism: shard assignment is pure integer arithmetic (modulo, and
    * a month-index linear bin with integer `div`), identical cross-engine;
    * min/max/count are exact.
    *
    * Scale shape: one pass over the scan computing both shard keys, two
    * map-side-combinable aggregates into ≤ 32 rows each — zone-map
    * construction is exactly the partial-agg shape that never shuffles raw
    * rows.
    */
  def zoneMapAudit(spark: SparkSession, sfDir: String): DataFrame = {
    // TPC-H ship calendar: 1992-01 (month index 23905) spans 84 months
    val mi0 = 1992 * 12 + 1
    val base = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("ship"))
      .withColumn("mi", year(col("ship")) * 12 + month(col("ship")))
      .withColumn("shard_key", pmod(col("l_orderkey"), lit(32)).cast("int"))
      .withColumn("shard_month",
        least(lit(31), greatest(lit(0), expr(s"((mi - $mi0) * 32) div 84")))
          .cast("int"))
    val lo = to_date(lit("1995-03-01"))
    val hi = to_date(lit("1995-05-31"))
    def zones(keyCol: String, layout: String): DataFrame = base
      .groupBy(col(keyCol).as("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("ship")).as("min_ship"), max(col("ship")).as("max_ship"))
      .select(lit(layout).as("layout"), col("shard"), col("n_rows"),
        col("min_ship"), col("max_ship"),
        (col("max_ship") < lo || col("min_ship") > hi).cast("int")
          .as("skippable"))
    zones("shard_key", "by_orderkey")
      .unionByName(zones("shard_month", "by_shipmonth"))
  }

  /** Exponentially-weighted moving average of daily order revenue with a
    * DYADIC decay (weight of a day at calendar lag L is 2^(30−L) over a
    * 31-day window) — the trend line a revenue-anomaly monitor compares
    * each day against. The dyadic base is the point: 2^k is an exact
    * integer by construction (bit shift, not a libm pow call), so
    * cents × 2^(30−L) is exact INTEGER arithmetic and the weighted sum is
    * a Decimal(38,0)/HUGEINT that both engines agree on bit-for-bit — no
    * float accumulation order anywhere. The >64-bit fixed-point value
    * ships as two int64 columns (`ewma_hi` = fp div 10⁹, `ewma_lo` =
    * fp mod 10⁹) — plain integers survive every engine, file format, and
    * type-coercing reader, where a 20-digit string or a double would not.
    * Dollars at display time: (hi·10⁹ + lo) / ((2³¹−1)·100).
    *
    * Emitted for days with a full 31-day calendar history (`day ≥ first
    * order day + 30`); days without orders contribute zero implicitly via
    * the calendar-lag formulation.
    *
    * Scale shape: raw orders collapse to day grain first (map-side
    * combine); the 31-day window is then an explode of the TINY day-grain
    * table (31 rows per day) re-aggregated by target day — equality-keyed
    * end to end, no range join, no window over raw rows.
    */
  def ewmaRevenue(spark: SparkSession, sfDir: String): DataFrame =
    ewmaRevenueOf(Tables.orders(spark, sfDir))

  /** [[ewmaRevenue]] over an arbitrary orders frame — the fixture-testable
    * core. `horizon` = window length − 1 (calendar lags 0..horizon).
    */
  def ewmaRevenueOf(orders: DataFrame, horizon: Int = 30): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("rev_cents"))
    val bounds = daily.agg(min(col("day")).as("d0"))
    // each revenue day contributes to the 31 target days it decays into;
    // the weight 2^(horizon−lag) is an exact int64 via shiftleft
    val contrib = daily
      .withColumn("lag", explode(sequence(lit(0), lit(horizon))))
      .groupBy(date_add(col("day"), col("lag")).as("day"))
      .agg(sum(expr(s"CAST(shiftleft(CAST(1 AS BIGINT), $horizon - lag)"
        + " AS DECIMAL(38,0))") * col("rev_cents")).as("ewma_fp"))
    val split = lit(1000000000L).cast(dec)
    daily.join(contrib, Seq("day"))
      .crossJoin(broadcast(bounds))
      .where(col("day") >= date_add(col("d0"), horizon))
      .select(col("day"), col("rev_cents"),
        floor(col("ewma_fp") / split).cast("long").as("ewma_hi"),
        (col("ewma_fp") % split).cast("long").as("ewma_lo"))
  }

  /** Event value pivoted to a day-of-week grid — one row per event_type,
    * one column per ISO weekday (wd1=Monday … wd7=Sunday) holding the
    * summed value in cents — the wide-format weekly heat grid a BI layer
    * reads without a client-side crosstab. Exercises the PIVOT relational
    * operator with an EXPLICIT value list: pivot on an open value set
    * needs a driver-side distinct pass first (Spark warns and collects);
    * pinning the seven weekdays keeps the plan a single static aggregate.
    *
    * Scale shape: pivot with pinned values compiles to one groupBy with
    * 7 conditional aggregates — map-side combinable, one shuffle on
    * event_type (bounded cardinality), no second pass, no driver collect.
    */
  def dowRevenuePivot(spark: SparkSession, sfDir: String): DataFrame = {
    val wd = (weekday(col("ts")) + lit(1)).as("iso_dow")
    val cents = round(col("value") * 100, 0).cast("long").as("cents")
    val wide = Tables.events(spark, sfDir)
      .select(col("event_type"), wd, cents)
      .groupBy(col("event_type"))
      .pivot("iso_dow", (1 to 7).map(Integer.valueOf))
      .agg(sum(col("cents")))
    (1 to 7).foldLeft(wide)((df, d) =>
      df.withColumn(s"wd$d", coalesce(col(d.toString), lit(0L)))
        .drop(d.toString))
  }

  /** Order revenue under GROUPING SETS ((region, nation), (region), ()) —
    * the one rollup pass that serves the nation drill-down, the region
    * summary, and the grand total without three scans. `grouping_id`
    * disambiguates a real NULL from an aggregated-away level (gid bit set
    * = that column is rolled up); rolled-up labels render as 'ALL'.
    *
    * Scale shape: Spark expands grouping sets into a single Expand +
    * hash aggregate — one shuffle keyed on (gid, region, nation), all
    * partial-aggregated map-side. The dimension chain customer→nation→
    * region is broadcast; only the orders→customer join shuffles on the
    * high-cardinality key.
    */
  def revenueGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    // customer-grain frame: corpus-proportional, so NOT broadcast — only
    // the metadata-sized nation/region dims carry hints; orders meets
    // customer by a shuffled key join as the scale note documents
    val dims = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    Tables.orders(spark, sfDir)
      .join(dims, col("o_custkey") === col("c_custkey"))
      .select(col("r_name"), col("n_name"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("n_name")), Seq(col("r_name")), Seq()),
        col("r_name"), col("n_name"))
      .agg(grouping_id().as("gid"), sum(col("cents")).as("rev_cents"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("gid").cast("long").as("gid"), col("rev_cents"))
  }

  /** Autocorrelation of daily order revenue at calendar lags 1..`maxLag` —
    * the seasonality screen behind every forecasting model choice (a
    * weekly cycle shows as a lag-7 spike). Days without orders count as
    * zero revenue via a zero-filled calendar spine, so lags are CALENDAR
    * lags, not business-day lags.
    *
    * Determinism: Pearson r at each lag is computed from five exact
    * integer sums (Σx, Σy, Σx², Σy², Σxy over cents, Decimal(38,0) /
    * HUGEINT); doubles appear only in the final ratio, evaluated with the
    * identical expression shape on both engines and rounded at 6 dp.
    *
    * Scale shape: raw orders collapse to day grain first (map-side
    * combine); everything after runs on the TINY calendar spine (one row
    * per day × maxLag lag copies) — an equality join on the shifted day
    * key, then a lag-keyed rollup into ≤ maxLag rows. Nothing unbounded
    * ever shuffles.
    */
  /** Day-grain order revenue in cents on the zero-filled calendar spine
    * (d0, day, x) — the shared first stage of the ACF/trend/backtest
    * family (one definition so a spine fix lands everywhere at once).
    */
  private def dailyCentsSpine(spark: SparkSession, sfDir: String): DataFrame =
    dailyCentsSpineOf(Tables.orders(spark, sfDir))

  private[analytics] def dailyCentsSpineOf(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("d0"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("d0"), col("day"), coalesce(col("cents"), lit(0L)).as("x"))
  }

  /** Stage-1 diagnostic gate of the daily-cents family (q280): a one-row
    * integer-only audit of the PRE-spine day-grain table — day count, total
    * cents, calendar bounds, and a position-sensitive checksum
    * Σ cents·(epoch_day mod 97 + 1) that moves if any single day's value
    * or date shifts. Every column is an exact integer or a DATE; together
    * with [[spineAudit]] and [[spineWindowProbe]] it bisects any
    * cross-engine divergence in the q187/q202/q203/q251 family to a single
    * pipeline stage (the r7 red-cell postmortem, COVERAGE.md).
    */
  def dailyCentsAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    daily.agg(
      count(lit(1)).as("n_order_days"),
      sum(col("cents")).cast("long").as("sum_cents"),
      min(col("day")).as("first_day"),
      max(col("day")).as("last_day"),
      sum(col("cents").cast(dec)
        * (datediff(col("day"), lit("1970-01-01")) % 97 + 1))
        .cast("long").as("checksum"))
  }

  /** Stage-2 diagnostic gate (q281): the zero-filled calendar spine itself
    * — day count, bounds, zero-day count, and the same mod-97 positional
    * checksum over the spine rows. A divergence here but not in
    * [[dailyCentsAudit]] isolates the spine construction (sequence/range
    * expansion + left join); integer/DATE columns only.
    */
  def spineAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    dailyCentsSpine(spark, sfDir).agg(
      count(lit(1)).as("n_days"),
      min(col("day")).as("first_day"),
      max(col("day")).as("last_day"),
      sum(when(col("x") === 0, 1L).otherwise(0L)).as("n_zero_days"),
      sum(col("x")).cast("long").as("sum_cents"),
      sum(col("x").cast(dec)
        * (datediff(col("day"), lit("1970-01-01")) % 97 + 1))
        .cast("long").as("checksum"))
  }

  /** Stage-3 diagnostic gate (q282): the 31-day rolling-window aggregates
    * at three PINNED dates (d0+60, d0+130, d0+200) — the plain window sum
    * `sy`, the lag-weighted OLS numerator input `sxy`, and the dyadic EWMA
    * fixed point as the ewma_hi/ewma_lo int64 split. Three rows, exact
    * integers; a divergence here but not in [[spineAudit]] isolates the
    * explode→date_add→re-aggregate window step shared by q187/q202/q203.
    */
  def spineWindowProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val spine = dailyCentsSpine(spark, sfDir)
    val split = lit(1000000000L).cast(dec)
    spine
      .withColumn("k", explode(sequence(lit(0), lit(30))))
      .groupBy(col("d0"), expr("date_add(day, k)").as("day"))
      .agg(sum(col("x").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * (lit(30) - col("k"))).as("sxy"),
        sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 30 - k)"
          + " AS DECIMAL(38,0))") * col("x")).as("ewma_fp"))
      .where(col("day") === date_add(col("d0"), 60)
        || col("day") === date_add(col("d0"), 130)
        || col("day") === date_add(col("d0"), 200))
      .select(col("day"), col("sy").cast("long").as("sy"),
        col("sxy").cast("long").as("sxy"),
        floor(col("ewma_fp") / split).cast("long").as("ewma_hi"),
        (col("ewma_fp") % split).cast("long").as("ewma_lo"))
  }

  def revenueAutocorrelation(spark: SparkSession, sfDir: String,
      maxLag: Int = 14): DataFrame = {
    val dec = DecimalType(38, 0)
    val cal = dailyCentsSpine(spark, sfDir).select(col("day"), col("x"))
    val pairs = cal
      .withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .join(cal.select(col("day").as("yday"), col("x").as("y")),
        expr("yday = date_add(day, lag)"))
    // cast BEFORE multiplying: a long x*x wraps silently past ~3e9-cent
    // days under non-ANSI eval, where the oracle's HUGEINT stays exact
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).as("s1"),
        sum(col("y").cast(dec)).as("s2"),
        sum(col("x").cast(dec) * col("x")).as("s11"),
        sum(col("y").cast(dec) * col("y")).as("s22"),
        sum(col("x").cast(dec) * col("y")).as("s12"))
      .select(col("lag"), col("n").cast("long").as("n_pairs"),
        round((col("n") * col("s12") - col("s1") * col("s2")).cast("double")
          / (sqrt((col("n") * col("s11") - col("s1") * col("s1")).cast("double"))
            * sqrt((col("n") * col("s22") - col("s2") * col("s2")).cast("double"))),
          6).as("acf"))
  }

  /** Per-day 31-day rolling OLS trend of daily order revenue: for every
    * day with a full window, the least-squares slope (cents/day) of the
    * window's zero-filled revenue series — the trend detector a revenue
    * monitor pairs with [[ewmaRevenue]]'s level line. With the lag index
    * as the regressor, the OLS denominator is the CONSTANT
    * 31·ΣL² − (ΣL)² = 76880, so the slope is an exact integer numerator
    * over a pinned denominator: `slope_fp` = 31·ΣL·y − 465·Σy is
    * bit-exact in both engines; cents/day at display time is
    * slope_fp / 76880 (NOT emitted — a 6-dp-rounded double at 10⁷
    * magnitude sits on a cross-engine rounding band, per the COVERAGE.md
    * determinism audit).
    *
    * Scale shape: the q187/q191 recipe — collapse to day grain, explode
    * each day into the 31 target days it regresses into, aggregate on
    * the target-day key. Everything after the first aggregate runs on
    * the tiny calendar spine.
    */
  def rollingTrend(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val spine = dailyCentsSpine(spark, sfDir)
    // day s enters target t = s + k with lag index L = 30 - k; cast
    // before the multiply (the q191 overflow contract)
    val sums = spine
      .withColumn("k", explode(sequence(lit(0), lit(30))))
      .groupBy(col("d0"), expr("date_add(day, k)").as("day"))
      .agg(sum(col("x").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * (lit(30) - col("k"))).as("sxy"))
    sums
      .where(col("day") >= date_add(col("d0"), 30))
      .join(spine.select(col("day"), col("x").as("rev_cents")), Seq("day"))
      .select(col("day"), col("rev_cents"),
        (lit(31) * col("sxy") - lit(465) * col("sy")).cast("long")
          .as("slope_fp"))
  }

  /** Day-of-week seasonal indices of order revenue on the zero-filled
    * calendar spine: per ISO weekday, mean daily revenue relative to the
    * overall daily mean — the classical ratio-to-overall-average seasonal
    * factor that deseasonalizes the q187/q202 trend lines (an index of
    * 1.15 on Fridays means a flat forecast must be scaled up 15% there).
    * Computed on the spine, not raw order days, so zero-revenue weekdays
    * drag their index down honestly.
    *
    * Determinism: the index is one division of two exact integer products
    * — (Σcents_dow · n_days_all) / (n_days_dow · Σcents_all) in
    * Decimal(38,0) — and the average divides cents by 100·n in one op.
    *
    * Scale shape: the q191 recipe — orders collapse to day grain once;
    * everything downstream (7-row rollup, one-row total, broadcast) is
    * calendar-sized.
    */
  /** Ljung–Box portmanteau white-noise test over the q191 daily-revenue
    * ACF: Q = n(n+2)·Σ_{k≤h} r_k²/(n−k), with the 5% decision against the
    * pinned χ²(14) critical value 23.685 — the one-number answer to "is
    * there ANY autocorrelation structure worth modeling" that a
    * forecasting pipeline checks before reaching for the q187/q202/q203
    * machinery (fail to reject ⇒ the flat EWMA is already optimal).
    *
    * Determinism: r_k enters on its published 6-dp grid (×10⁶ integers);
    * each term is a ×10¹⁸ truncating integer division by (n−k); the sum
    * is exact, and Q materializes with one Decimal product and one final
    * division. The reject flag compares the ROUNDED statistic.
    *
    * Scale shape: everything reuses the q191 lag rollup (≤ h rows) plus
    * a one-row day count — nothing here is corpus-scale.
    */
  def ljungBox(spark: SparkSession, sfDir: String,
      maxLag: Int = 14): DataFrame = {
    val dec = DecimalType(38, 0)
    val acf = revenueAutocorrelation(spark, sfDir, maxLag)
    val nDays = dailyCentsSpine(spark, sfDir)
      .agg(count(lit(1)).as("n_days"))
    acf.crossJoin(broadcast(nDays))
      .select(col("n_days"), col("lag"),
        round(col("acf") * 1e6, 0).cast("long").as("r6"))
      .select(col("n_days"),
        expr("(r6 * r6 * 1000000) DIV (n_days - lag)").as("term_fp"))
      .groupBy(col("n_days"))
      .agg(sum(col("term_fp")).cast(dec).as("s"))
      .select(lit(maxLag).as("max_lag"), col("n_days"),
        round((col("n_days").cast(dec) * (col("n_days") + 2) * col("s"))
          .cast("double") / 1e18, 6).as("lb_q"))
      .withColumn("reject_5pct",
        (col("lb_q") > lit(23.685)).cast("int"))
  }

  /** CUSUM changepoint localization on daily order revenue: the day t
    * maximizing |N·S_t − t·S_N| over the zero-filled spine (S = cumulative
    * cents) — the standard "where did the level shift" estimator that
    * complements q167's per-day anomaly ALARMS with a single most-likely
    * break location (argmax of the centered cumulative-sum deviation;
    * ties → earliest day). dev_share normalizes by N·S_N so thresholds
    * transfer across scales.
    *
    * Determinism: the deviation is EXACT integer arithmetic end to end
    * (Decimal(38,0) products); the only float is the final share
    * division. The argmax is a min_by on the exact (deviation DESC, day)
    * order — no float ranking.
    *
    * Scale shape: one day-grain collapse, then a calendar-sized cumsum
    * window (the q187 precedent — the spine is metadata-sized at any
    * corpus scale) and a one-row argmax via TakeOrdered.
    */
  def cusumChangepoint(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val spine = dailyCentsSpine(spark, sfDir).select(col("day"), col("x"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = spine
      .withColumn("t", count(lit(1)).over(w))
      .withColumn("cum", sum(col("x")).over(w))
    val tot = cum.agg(max(col("t")).as("n_days"), max(col("cum")).as("total"))
    cum.crossJoin(broadcast(tot))
      .select(col("day"), col("n_days"), col("total"),
        abs(col("n_days").cast(dec) * col("cum")
          - col("t").cast(dec) * col("total")).as("dev"))
      .orderBy(col("dev").desc, col("day")).limit(1)
      .select(col("day").as("cp_day"), col("n_days"),
        col("dev").cast("long").as("dev_fp"),
        round(col("dev").cast("double")
          / (col("n_days").cast(dec) * col("total")).cast("double"), 6)
          .as("dev_share"))
  }

  def seasonalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val byDow = dailyCentsSpine(spark, sfDir)
      .groupBy((weekday(col("day")) + lit(1)).as("iso_dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("rev_cents"))
    byDow
      .crossJoin(broadcast(byDow.agg(sum(col("n_days")).as("n_all"),
        sum(col("rev_cents")).as("rev_all"))))
      .select(col("iso_dow").cast("int").as("iso_dow"), col("n_days"),
        col("rev_cents"),
        round(col("rev_cents").cast("double")
          / (col("n_days") * 100L).cast("double"), 6).as("avg_rev"),
        round((col("rev_cents").cast(dec) * col("n_all")).cast("double")
          / (col("n_days").cast(dec) * col("rev_all")).cast("double"), 6)
          .as("seasonal_index"))
  }

  /** One-step-ahead backtest of the dyadic-EWMA revenue forecast: for
    * every day with a full history, the forecast is [[ewmaRevenue]]'s
    * weighted mean through YESTERDAY and the row reports the absolute
    * error against the day's actual revenue — the honest evaluation loop
    * every forecasting monitor needs (a trend line nobody backtests is
    * decoration). All on the zero-filled calendar spine, so quiet days
    * count as zero actuals, not gaps.
    *
    * Determinism: the error is computed in fixed point FIRST —
    * |actual·(2³¹−1) − ewma_fp| is exact integer arithmetic — and the
    * reporting columns divide the exact fixed-point values by the weight
    * mass (2³¹−1) with INTEGRAL division, so everything shipped is a
    * plain int64 cent value (dollars at display time = cents / 100).
    *
    * Scale shape: identical to [[ewmaRevenue]] — day-grain collapse,
    * 31-way explode, target-day aggregate, one tiny self-join to shift
    * the forecast one day forward.
    */
  def forecastBacktest(spark: SparkSession, sfDir: String,
      horizon: Int = 30): DataFrame = {
    val dec = DecimalType(38, 0)
    val spine = dailyCentsSpine(spark, sfDir)
    val ewma = spine
      .withColumn("lag", explode(sequence(lit(0), lit(horizon))))
      .groupBy(date_add(col("day"), col("lag")).as("day"))
      .agg(sum(expr(s"CAST(shiftleft(CAST(1 AS BIGINT), $horizon - lag)"
        + " AS DECIMAL(38,0))") * col("x")).as("ewma_fp"))
    // full-window weight mass = 2^(horizon+1) − 1, exact in int64
    val mass = (1L << (horizon + 1)) - 1L
    spine
      .join(ewma.select(expr("date_add(day, 1)").as("day"),
        col("ewma_fp")), Seq("day"))
      .where(col("day") >= date_add(col("d0"), horizon + 1))
      .select(col("day"), col("x").as("actual_cents"),
        expr(s"CAST(ewma_fp div ${mass}L AS BIGINT)").as("forecast_cents"),
        expr(s"CAST(abs(CAST(x AS DECIMAL(38,0)) * ${mass}L - ewma_fp)"
          + s" div ${mass}L AS BIGINT)").as("abs_err_cents"))
  }

  /** Unnormalized Haar wavelet decomposition of the daily revenue series:
    * for dyadic levels 1..`levels`, block b at level l covers calendar
    * days [b·2^l, (b+1)·2^l) from the first order day and reports the
    * block's total cents (`approx`) and its left-half-minus-right-half
    * difference (`detail`). The detail pyramid localizes WHEN a revenue
    * shift happened and at WHAT timescale (a one-day spike lights level 1;
    * a regime change lights every level above it) — the multi-resolution
    * companion to the single-scale CUSUM (q227) and EWMA (q187) monitors.
    * Unnormalized Haar (sums and differences, no √2) keeps every
    * coefficient an exact integer — the transform is exactly invertible
    * from (approx, detail) level by level.
    *
    * Determinism: integer sums of cents only; days without orders
    * contribute zero implicitly (absent rows, not NULLs).
    *
    * Scale shape: the corpus pass is the day-grain collapse (map-side
    * combine); the pyramid is a `levels`-way explode of the day-grain
    * table re-aggregated on (level, block) — equality-keyed, bounded by
    * days·levels rows.
    */
  def haarRevenue(spark: SparkSession, sfDir: String,
      levels: Int = 5): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("cents"))
    val d0 = daily.agg(min(col("day")).as("d0"))
    daily.crossJoin(broadcast(d0))
      .select(datediff(col("day"), col("d0")).cast("long").as("idx"),
        col("cents"))
      .withColumn("level", explode(sequence(lit(1), lit(levels))))
      .groupBy(col("level"),
        expr("idx DIV shiftleft(CAST(1 AS BIGINT), level)").as("block"))
      .agg(sum(col("cents")).as("approx"),
        // left half of the block (even child at level-1) minus right half
        sum(when(expr("(idx DIV shiftleft(CAST(1 AS BIGINT), level - 1)) % 2")
          === 0, col("cents")).otherwise(-col("cents"))).as("detail"))
  }

  /** Additive SEASONAL DECOMPOSITION of daily revenue (STL-lite on the
    * dyadic-free calendar): trend = 31-day centered moving total (kept at
    * ×31 integer scale), weekly seasonal = per-ISO-weekday mean of the
    * ×31 detrended series (kept as an exact numerator/denominator pair),
    * residual = the remainder — the three-way split a revenue monitor
    * reads so a weekend dip isn't flagged as an anomaly and a drift isn't
    * hidden by weekly rhythm. Emitted for days with a FULL 31-day
    * centered window.
    *
    * Determinism: EVERYTHING ships as exact integers — trend at ×31
    * scale, the weekly seasonal as a num/den pair, and the residual as a
    * numerator over the common 31·seas_den denominator. A 6-dp-rounded
    * display double at the 10⁷-cent magnitudes involved sits on a
    * 0.002-wide cross-engine rounding band (multiply-based rounding vs
    * exact-decimal rounding diverge there ≈ 0.4% of rows) — measured,
    * not theoretical, which is why no double crosses the gate; display
    * values are one division away: trend/31, seas/(31·den),
    * resid/(31·den).
    *
    * Scale shape: the corpus pass is the day-grain collapse; the centered
    * total is a 31-way explode of the calendar-sized spine re-aggregated
    * by target day (equality-keyed, the q187 shape); the seasonal table
    * is 7 rows broadcast back.
    */
  def seasonalDecompose(spark: SparkSession, sfDir: String,
      half: Int = 15): DataFrame = {
    val win = 2 * half + 1
    val spine = dailyCentsSpine(spark, sfDir).select(col("day"), col("x"))
    val contrib = spine
      .withColumn("k", explode(sequence(lit(-half), lit(half))))
      .groupBy(date_add(col("day"), col("k")).as("day"))
      .agg(sum(col("x")).as("trend_fp"), count(lit(1)).as("nw"))
      .where(col("nw") === win)
      .drop("nw")
    val det = spine.join(contrib, "day")
      .withColumn("iso_dow", (weekday(col("day")) + lit(1)).cast("int"))
      .withColumn("det_fp", lit(win.toLong) * col("x") - col("trend_fp"))
    val seas = det.groupBy(col("iso_dow"))
      .agg(sum(col("det_fp")).as("seas_num"), count(lit(1)).as("seas_den"))
    det.join(broadcast(seas), "iso_dow")
      .select(col("day"), col("x").as("cents"), col("iso_dow"),
        col("trend_fp"), col("seas_num"), col("seas_den"),
        // residual over the common 31·seas_den denominator, exact int64
        (col("det_fp") * col("seas_den") - col("seas_num"))
          .as("resid_num"))
  }

  /** Exact per-event-type value DECILES (p10..p90 in cents): the
    * distribution card a metric owner reads next to q192's moments —
    * medians and tails without the normality assumption moments smuggle
    * in. Exact, not sketched: the value domain is cents-bounded, so the
    * distribution table is GRAIN-bounded (|types| × |distinct cents|)
    * and an exact cumulative walk is affordable at any corpus size —
    * where q38's doc-grain percentile would not be.
    *
    * Determinism: decile k = the smallest cents value whose cumulative
    * count reaches ⌈k·n/10⌉ — pure integer arithmetic.
    *
    * Scale shape: one map-side-combinable (type, cents) count collapse;
    * the cumulative window runs per type over the bounded grain, never
    * over events; output is |types| rows.
    */
  def valueDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val grain = Tables.events(spark, sfDir)
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tw = Window.partitionBy(col("event_type"))
    val cum = grain
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(tw))
    // decile k = smallest cents with 10·cum ≥ k·n (i.e. cum ≥ ⌈k·n/10⌉)
    val decs = (1 to 9).map(k =>
      min(when(col("cum") * 10 >= col("n") * k, col("cents")))
        .as(s"p${k * 10}"))
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_events"), decs: _*)
  }

  /** Robust daily revenue anomalies via median/MAD (the q167 mean/σ
    * alarm's breakdown-resistant twin: one Black-Friday spike inflates a
    * standard deviation enough to hide the next three anomalies; the MAD
    * ignores it). A calendar day is flagged when |x − median| > k·MAD
    * over the zero-filled day spine — quiet days count as zero revenue
    * and can themselves flag.
    *
    * Determinism: medians are the exact two-middle-order-statistics
    * convention carried at ×2 (median) and ×4 (MAD) integer scale, so the
    * flag comparison 2·dev_x2 > k·mad_x4 is pure integer arithmetic —
    * no division, no doubles anywhere.
    *
    * Scale shape: the corpus pass is the day-grain collapse; the spine
    * is CALENDAR-sized, so the two median solves run on the driver over
    * the collected spine (the q233/q172 discipline) and the flag pass is
    * a spine-sized map.
    */
  def madAnomalies(spark: SparkSession, sfDir: String,
      k: Int = 5): DataFrame = {
    val spine = dailyCentsSpine(spark, sfDir).select(col("day"), col("x"))
      .collect().map(r => (r.getDate(0), r.getLong(1))).sortBy(_._1.getTime)
    def med2Of(xs: Array[Long]): Long = {
      val s = xs.sorted
      val n = s.length
      s(((n + 1) / 2) - 1) + s(n / 2)
    }
    val med2 = med2Of(spine.map(_._2))
    val dev2 = spine.map { case (_, x) => math.abs(2 * x - med2) }
    val mad4 = med2Of(dev2)
    val rows = spine.zip(dev2).map { case ((day, x), d2) =>
      (day, x, med2, mad4, d2, if (2 * d2 > k.toLong * mad4) 1 else 0)
    }
    import spark.implicits._
    rows.toSeq
      .toDF("day", "cents", "med_x2", "mad_x4", "dev_x2", "is_anomaly")
  }

  /** Per-brand price elasticity of demand: the OLS slope of ln(quantity)
    * on ln(unit price) over that brand's line items — the classic log-log
    * elasticity read (slope ≈ −1.2 means a 1% price rise costs 1.2% of
    * volume). The pricing-analytics companion to the q01 revenue rollups.
    *
    * Determinism: each ln is rounded once onto the ×10⁶ grid; all five
    * OLS sums are exact Decimal(38,0) integer sums (squares of 10⁷-scale
    * terms times corpus counts overflow int64); numerator and denominator
    * assemble exactly in Decimal and meet in ONE double division.
    *
    * Scale shape: one partkey equality join decorates line items with the
    * brand; one map-side-combinable aggregate to |brands| rows; the slope
    * algebra runs on that bounded table.
    */
  def priceElasticity(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    // per-row products stay in LONG (r17): |log(finite double)·1e6| ≤
    // 7.1e8, so every cross-product is ≤ ~5e17 — provably inside Long for
    // ANY input double — and only the cross-group SUM needs
    // DECIMAL(38,0). The previous form multiplied DECIMAL(38,0)s per row
    // (a BigDecimal allocation per product; the 1.5 s single pipeline of
    // the r17 StageMetrics). Identical integers, same sum types.
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      .join(Tables.part(spark, sfDir).select(col("p_partkey").as("l_partkey"),
        col("p_brand")), "l_partkey")
      .select(col("p_brand"),
        round(log(col("l_extendedprice") / col("l_quantity") * 100.0) * 1e6, 0)
          .cast("long").as("xf"),
        round(log(col("l_quantity")) * 1e6, 0).cast("long").as("yf"))
    li.groupBy(col("p_brand"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("xf").cast(dec)).as("sx"), sum(col("yf").cast(dec)).as("sy"),
        sum((col("xf") * col("xf")).cast(dec)).as("sxx"),
        sum((col("xf") * col("yf")).cast(dec)).as("sxy"))
      .select(col("p_brand"), col("n").cast("long").as("n_items"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("elasticity"))
  }

  /** k-anonymity audit of the customer quasi-identifier combination
    * (nation × market segment): for each k in `ks`, how many identifier
    * groups have fewer than k members and how many customers sit in those
    * under-populated groups — the re-identification risk mass a privacy
    * review reads before releasing session or purchase data keyed by
    * these attributes (a group of size 1 IS an identity). The PII-scrub
    * complement: q76 removes direct identifiers; this measures the
    * indirect ones.
    *
    * Determinism: pure integer counts and one rounded division per k.
    *
    * Scale shape: one map-side-combinable aggregate to the |nations| ×
    * |segments| group table; the k sweep explodes that metadata-sized
    * table by |ks| and rolls up to |ks| rows.
    */
  def kAnonymityAudit(spark: SparkSession, sfDir: String,
      ks: Seq[Int] = Seq(2, 5, 10, 20)): DataFrame = {
    val groups = Tables.customer(spark, sfDir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
    val total = groups.agg(sum(col("n")).as("n_customers"))
    groups
      .select(col("n"), explode(array(ks.map(lit): _*)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("n") < col("k"), 1L).otherwise(0L)).as("n_risky_groups"),
        sum(when(col("n") < col("k"), col("n")).otherwise(0L))
          .as("n_risky_customers"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("n_groups"), col("n_risky_groups"),
        col("n_risky_customers"),
        round(col("n_risky_customers").cast("double") / col("n_customers"), 6)
          .as("risk_frac"))
  }

  /** Higher-moment distribution profile of event value per event_type:
    * mean, population standard deviation, skewness, and excess kurtosis —
    * the four numbers a drift monitor tracks per metric (kurtosis
    * explosions flag heavy-tail pollution long before the mean moves).
    *
    * Determinism: the four raw power sums Σx..Σx⁴ are EXACT integer
    * arithmetic in cents (Decimal(38,0) / HUGEINT — cents⁴ overflows
    * int64, which is why the decimal carrier is not optional); the
    * central-moment formulas then run in doubles with the identical
    * expression shape on both engines, rounded at 6 dp. Skewness and
    * kurtosis are scale-invariant, so the cents scaling cancels exactly.
    *
    * Scale shape: one map-side-combinable aggregate into ≤ |event_type|
    * rows; the moment algebra is per-row arithmetic on the bounded result.
    */
  def valueMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val c = col("c")
    val sums = Tables.events(spark, sfDir)
      .select(col("event_type"), round(col("value") * 100, 0).cast(dec).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(c).as("p1"),
        sum(c * c).as("p2"), sum(c * c * c).as("p3"),
        sum(c * c * c * c).as("p4"))
    val nd = col("n").cast("double")
    val m = (col("p1").cast("double") / nd).as("m")
    val ex = Seq("p2", "p3", "p4").map(p => (col(p).cast("double") / nd).as(s"e$p"))
    val proj = sums.select(col("event_type") +: col("n") +: m +: ex: _*)
    val (mm, e2, e3, e4) = (col("m"), col("ep2"), col("ep3"), col("ep4"))
    val m2 = (e2 - mm * mm).as("m2")
    val m3 = (e3 - lit(3.0) * mm * e2 + lit(2.0) * mm * mm * mm).as("m3")
    val m4 = (e4 - lit(4.0) * mm * e3 + lit(6.0) * mm * mm * e2
      - lit(3.0) * mm * mm * mm * mm).as("m4")
    proj.select(col("event_type"), col("n"), col("m"), m2, m3, m4)
      .select(col("event_type"), col("n").as("n_events"),
        round(col("m") / 100.0, 6).as("mean_value"),
        round(sqrt(col("m2")) / 100.0, 6).as("sd_value"),
        // m2^1.5 as m2·√m2: sqrt is correctly-rounded IEEE in both engines,
        // pow's libm implementations are not guaranteed to agree
        round(col("m3") / (col("m2") * sqrt(col("m2"))), 6).as("skewness"),
        round(col("m4") / (col("m2") * col("m2")) - lit(3.0), 6)
          .as("excess_kurtosis"))
  }

  /** Pearson χ² independence test of event_type × ISO weekday — "does the
    * event mix depend on the day of week", the categorical companion to
    * q216's continuous KS drift. Emits the full contingency grid (zero
    * cells materialized from the row×column margin cross product, which a
    * cells-only rollup would silently drop) with each cell's expected
    * count and χ² contribution, plus the grid-constant statistic, degrees
    * of freedom and the 5% decision.
    *
    * Determinism: margins and their products are exact integers
    * (Decimal(38,0) before the multiply — two corpus-scale margins can
    * overflow a long product); expected and the contribution evaluate in
    * one pinned IEEE tree; contributions cross engines on the 6-dp grid
    * (×10⁶ integers) so the statistic is an exact integer sum — the q103
    * recipe. The decision compares the ROUNDED statistic against the
    * pinned χ²₀.₀₅ critical value for the observed dof (published only
    * for the 24-dof full grid; other shapes emit NULL rather than an
    * interpolated quantile).
    *
    * Scale shape: one map-side-combinable (type, dow) count into a
    * |types|×7 grid; margins, grid and statistic are all metadata-sized.
    */
  def chiSquareDowType(spark: SparkSession, sfDir: String): DataFrame =
    chiSquareDowTypeOf(Tables.events(spark, sfDir))

  /** [[chiSquareDowType]] over an arbitrary (event_type, ts) frame — the
    * fixture-testable core.
    */
  def chiSquareDowTypeOf(ev: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = ev
      .groupBy(col("event_type"),
        (weekday(col("ts")) + lit(1)).cast("int").as("iso_dow"))
      .agg(count(lit(1)).as("observed"))
    val rowT = cells.groupBy(col("event_type"))
      .agg(sum(col("observed")).as("row_tot"))
    val colT = cells.groupBy(col("iso_dow"))
      .agg(sum(col("observed")).as("col_tot"))
    val tot = cells.agg(sum(col("observed")).as("n"))
    val grid = rowT.crossJoin(colT)
      .join(cells, Seq("event_type", "iso_dow"), "left")
      .withColumn("observed", coalesce(col("observed"), lit(0L)))
      .crossJoin(broadcast(tot))
    val expected = (col("row_tot").cast(dec) * col("col_tot")).cast("double") /
      col("n").cast("double")
    val d = col("observed").cast("double") - col("expected")
    val scored = grid.withColumn("expected", expected)
      .withColumn("contrib_fp",
        round((d * d / col("expected")) * 1e6, 0).cast("long"))
    val stat = scored.agg(
      sum(col("contrib_fp")).as("chi2_fp"),
      ((count_distinct(col("event_type")) - 1) *
        (count_distinct(col("iso_dow")) - 1)).as("dof"))
    scored.crossJoin(broadcast(stat))
      .select(col("event_type"), col("iso_dow"), col("observed"),
        round(col("expected"), 6).as("expected"),
        round(col("contrib_fp").cast("double") / 1e6, 6).as("contrib"),
        round(col("chi2_fp").cast("double") / 1e6, 6).as("chi2_stat"),
        col("dof"))
      .withColumn("reject_5pct",
        when(col("dof") === 24, (col("chi2_stat") > lit(36.415)).cast("int")))
  }

  /** Hour × ISO-weekday activity heatmap: event counts per (iso_dow,
    * hour) cell with each cell's share of the week and of its day — the
    * load-shape grid behind capacity planning and send-time decisions,
    * the counts-grain companion to q188's value pivot.
    *
    * Determinism: integer counts; shares are single rounded divisions.
    *
    * Scale shape: one map-side-combinable aggregate into ≤ 168 cells;
    * day totals ride a window over those cells.
    */
  def activityHeatmap(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .groupBy((weekday(col("ts")) + lit(1)).cast("int").as("iso_dow"),
        hour(col("ts")).cast("int").as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val dw = Window.partitionBy(col("iso_dow"))
    val tw = Window.partitionBy(lit(1))
    cells
      .withColumn("n_day", sum(col("n_events")).over(dw))
      .withColumn("n_all", sum(col("n_events")).over(tw))
      .select(col("iso_dow"), col("hour"), col("n_events"),
        round(col("n_events").cast("double") / col("n_all"), 6)
          .as("share_of_week"),
        round(col("n_events").cast("double") / col("n_day"), 6)
          .as("share_of_day"))
  }

  /** Seasonal and trend STRENGTH of the q251 decomposition (Hyndman's
    * F-measures): 1 − Var(residual)/Var(detrended) says how much of the
    * de-trended motion the weekly cycle explains, and
    * 1 − Var(residual)/Var(de-seasonalized) how much of the rest is
    * trend — the two numbers that decide whether q251's components are
    * worth monitoring separately at all (strengths near 0 mean the
    * "seasonal" line is noise being dignified).
    *
    * Determinism: each per-day component value evaluates in one pinned
    * IEEE tree from q251's exact integers, is rounded once onto a ×100
    * grid, and the variance sums run in Decimal(38,0) fixed point; the
    * final ratios are single double operations rounded at 6 dp.
    *
    * Scale shape: everything after q251's calendar-sized output is a
    * one-row aggregate.
    */
  def seasonalStrength(spark: SparkSession, sfDir: String,
      half: Int = 15): DataFrame = {
    val dec = DecimalType(38, 0)
    val win = (2 * half + 1).toDouble
    val d = seasonalDecompose(spark, sfDir, half)
      .select(
        ((lit(2 * half + 1) * col("cents") - col("trend_fp"))
          .cast("double") / win).as("det"),
        (col("resid_num").cast("double")
          / (lit(win) * col("seas_den"))).as("resid"),
        (col("cents")
          - col("seas_num").cast("double") / (lit(win) * col("seas_den")))
          .as("deseas"))
    def fp(c: org.apache.spark.sql.Column) = round(c * 100, 0).cast("long")
    val sums = d.agg(count(lit(1)).cast(dec).as("n"),
      sum(fp(col("det")).cast(dec)).as("sd"),
      sum((fp(col("det")).cast(dec) * fp(col("det"))).cast(dec)).as("sdd"),
      sum(fp(col("resid")).cast(dec)).as("sr"),
      sum((fp(col("resid")).cast(dec) * fp(col("resid"))).cast(dec)).as("srr"),
      sum(fp(col("deseas")).cast(dec)).as("ss"),
      sum((fp(col("deseas")).cast(dec) * fp(col("deseas"))).cast(dec)).as("sss"))
    def varOf(s2: String, s1: String) =
      (col(s2).cast("double") * col("n").cast("double")
        - col(s1).cast("double") * col(s1).cast("double"))
    sums.select(col("n").cast("long").as("n_days"),
      round(greatest(lit(0.0),
        lit(1.0) - varOf("srr", "sr") / varOf("sdd", "sd")), 6)
        .as("seasonal_strength"),
      round(greatest(lit(0.0),
        lit(1.0) - varOf("srr", "sr") / varOf("sss", "ss")), 6)
        .as("trend_strength"))
  }

  /** Order PRIORITY × STATUS mix: order counts and revenue per
    * (o_orderpriority, o_orderstatus) cell with row shares — the order-
    * book composition read (is urgent volume growing, are open orders
    * piling up in one priority class), covering the two order columns no
    * other gate touches.
    *
    * Determinism: counts exact; revenue the 2-dp money class; shares
    * single rounded divisions.
    *
    * Scale shape: one map-side-combinable aggregate into a ≤ 5×3 cell
    * grid; the total rides a window over those cells.
    */
  def orderPriorityMix(spark: SparkSession, sfDir: String): DataFrame = {
    val tot = Window.partitionBy(lit(1))
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .withColumn("n", sum(col("n_orders")).over(tot))
      .select(col("o_orderpriority"), col("o_orderstatus"), col("n_orders"),
        col("revenue"),
        round(col("n_orders").cast("double") / col("n"), 6).as("order_share"))
  }

  /** Account-balance DECILES for customers and suppliers side by side
    * (p10..p90 in cents, the q256 exact-decile recipe over the bounded
    * cents grain) — the financial-health distribution card, and a
    * same-shape comparison of the two populations the schema prices.
    *
    * Determinism: decile k = smallest cents with 10·cum ≥ k·n — pure
    * integers over the value grain.
    *
    * Scale shape: two entity rollups to (entity, cents) grain; the
    * cumulative window runs per entity over the bounded grain.
    */
  def acctbalDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .select(lit("customer").as("entity"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
    val supp = Tables.supplier(spark, sfDir)
      .select(lit("supplier").as("entity"),
        round(col("s_acctbal") * 100, 0).cast("long").as("cents"))
    val grain = cust.unionByName(supp)
      .groupBy(col("entity"), col("cents")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("entity")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tw = Window.partitionBy(col("entity"))
    val cum = grain
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(tw))
    val decs = (1 to 9).map(k =>
      min(when(col("cum") * 10 >= col("n") * k, col("cents")))
        .as(s"p${k * 10}"))
    cum.groupBy(col("entity"))
      .agg(max(col("n")).as("n_accounts"), decs: _*)
  }

  /** LOCAL supplier volume (the TPC-H Q5 shape): revenue from line items
    * where the ordering customer and the supplier share a nation, rolled
    * up per nation with its region — the six-table star join (two fact
    * hops, four dimension hops) every warehouse benchmark uses to test
    * join planning, kept here as a gated query so the engine's multi-join
    * path stays exercised end to end.
    *
    * Determinism: the 2-dp money-sum class (summands on a 10⁻⁴ grid).
    *
    * Scale shape: nation/region/supplier-key dimensions broadcast; the
    * only big-side shuffles are lineitem⨝orders (orderkey) and the
    * customer decoration (custkey) — fact-key equality joins throughout;
    * the local-supplier condition is a map-side filter after the
    * broadcast supplier-nation lookup.
    */
  def localSupplierVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
    val ord = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey").as("c_custkey"))
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("l_suppkey"),
        col("s_nationkey").as("supp_nationkey"))
    val nat = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val reg = Tables.region(spark, sfDir)
      .select(col("r_regionkey").as("n_regionkey"), col("r_name"))
    li.join(ord, "o_orderkey")
      .join(cust, "c_custkey")
      .join(broadcast(supp), "l_suppkey")
      .where(col("c_nationkey") === col("supp_nationkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), "n_regionkey")
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_lines"), round(sum(col("rev")), 2).as("revenue"))
  }

  /** Supplier revenue CONCENTRATION per nation — the Herfindahl–
    * Hirschman index Σ share² plus the top supplier's share: the
    * supply-risk number a sourcing review reads (HHI → 1 means one
    * supplier owns the nation's volume; antitrust's 0.25 threshold is a
    * useful alarm line here too).
    *
    * Determinism: HHI's numerator Σ cents² and denominator (Σ cents)²
    * are exact Decimal(38,0) integer arithmetic; one double division
    * each, rounded at 6 dp.
    *
    * Scale shape: one (nation, supplier) rollup (map-side combinable),
    * then a |nations|-keyed aggregate carrying exact decimal sums.
    */
  def supplierHhi(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val bySupp = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100, 0)
          .cast("long").as("cents"))
      .groupBy(col("l_suppkey")).agg(sum(col("cents")).as("cents"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))),
        "l_suppkey")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey").as("s_nationkey"), col("n_name"))),
        "s_nationkey")
    bySupp.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("cents").cast(dec)).as("tot"),
        sum(col("cents").cast(dec) * col("cents")).as("sq"),
        max(col("cents")).as("top_cents"))
      .select(col("n_name"), col("n_suppliers"),
        col("tot").cast("long").as("total_cents"),
        round(col("sq").cast("double")
          / (col("tot").cast("double") * col("tot").cast("double")), 6)
          .as("hhi"),
        round(col("top_cents").cast("double") / col("tot").cast("double"), 6)
          .as("top_supplier_share"))
  }

  /** Customer revenue CONCENTRATION by power-of-two spend band: customers
    * bucketed by ⌊log₂(lifetime cents)⌋, each band's customer count,
    * revenue mass, share and top-down cumulative share — the Lorenz/
    * whale-curve read ("the top band is 2% of customers and 40% of
    * revenue") at a GRAIN that needs no global rank: an exact "top k%"
    * cut would rank every customer (a distributed sort of the rollup);
    * the ≤ ~40 log bands give the same concentration story from one
    * bounded aggregate — the same trade q147 makes with pinned RFM bands.
    *
    * Determinism: ⌊log₂⌋ via binary-string length (integer-exact, no
    * libm); counts and cent sums exact; shares single rounded divisions.
    *
    * Scale shape: one customer rollup (map-side combinable), one
    * ≤ 40-row band aggregate, a window over those bands only.
    */
  def revenueConcentration(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val bands = cust
      .groupBy((length(bin(col("cents"))) - 1).cast("int").as("band"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("band_cents"))
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(lit(1))
    bands
      .withColumn("cum_cents", sum(col("band_cents")).over(w))
      .withColumn("all_cents", sum(col("band_cents")).over(tot))
      .withColumn("all_cust", sum(col("n_customers")).over(tot))
      .select(col("band"), col("n_customers"), col("band_cents"),
        round(col("n_customers").cast("double") / col("all_cust"), 6)
          .as("customer_share"),
        round(col("band_cents").cast("double") / col("all_cents"), 6)
          .as("revenue_share"),
        round(col("cum_cents").cast("double") / col("all_cents"), 6)
          .as("cum_revenue_share_from_top"))
  }

  /** Discount-band effectiveness: line items grouped by the discount
    * percentage, with volume, exact average quantity, 2-dp revenue and
    * each band's revenue share — the "does discounting move units"
    * table, TPC-H's q19 spirit as a reusable report.
    *
    * Determinism: counts and quantity sums are exact; revenue is the
    * 2-dp-grid money-sum class (summands on a 10⁻⁴ grid); the share
    * divides the two ROUNDED revenue numbers once.
    *
    * Scale shape: one map-side-combinable aggregate into ≤ 11 bands; the
    * total rides a broadcast one-row aggregate.
    */
  def discountBands(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = Tables.lineitem(spark, sfDir)
      .groupBy(round(col("l_discount") * 100, 0).cast("int")
        .as("discount_pct"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
    val tot = bands.agg(round(sum(col("revenue")), 2).as("rev_all"))
    bands.crossJoin(broadcast(tot))
      .select(col("discount_pct"), col("n_lines"),
        round(col("qty").cast("double") / col("n_lines"), 6).as("avg_qty"),
        col("revenue"),
        round(col("revenue") / col("rev_all"), 6).as("rev_share"))
  }

  /** Mutual information of event_type × ISO weekday (plus both marginal
    * entropies): the effect-SIZE companion to q231's chi-square — the
    * test says whether weekday and event mix are dependent; MI (and the
    * normalized MI / min(H) ratio a reader derives) says how MUCH
    * structure there is to exploit before anyone builds per-weekday
    * models.
    *
    * Determinism: the q103 recipe — each p·ln(...) term rounded once at
    * 6 dp, ×10⁶ fixed-point sums (order-independent), counts exact.
    *
    * Scale shape: one map-side-combinable (type, dow) count collapse to
    * ≤ |types|·7 cells; margins and all three entropy sums run on that
    * metadata-sized table.
    */
  def dowTypeMutualInfo(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = Tables.events(spark, sfDir)
      .select(col("event_type"), (weekday(col("ts")) + lit(1)).as("iso_dow"))
      .groupBy(col("event_type"), col("iso_dow"))
      .agg(count(lit(1)).as("nxy"))
    val mx = cells.groupBy(col("event_type")).agg(sum(col("nxy")).as("nx"))
    val my = cells.groupBy(col("iso_dow")).agg(sum(col("nxy")).as("ny"))
    val tot = cells.agg(sum(col("nxy")).as("n"))
    def fpSum(term: org.apache.spark.sql.Column) =
      round(sum(round(term * 1e6, 0).cast("long")).cast("double") / 1e6, 6)
    val nD = col("n").cast("double")
    val joint = cells.join(broadcast(mx), "event_type")
      .join(broadcast(my), "iso_dow").crossJoin(broadcast(tot))
    val mi = joint
      .select(round((col("nxy") / nD)
        * log((col("nxy") * col("n")).cast("double")
          / (col("nx") * col("ny")).cast("double")), 6).as("term"))
      .agg(fpSum(col("term")).as("mi_nats"))
    val hx = mx.crossJoin(broadcast(tot))
      .select(round((col("nx") / nD) * -log(col("nx") / nD), 6).as("term"))
      .agg(fpSum(col("term")).as("h_type"))
    val hy = my.crossJoin(broadcast(tot))
      .select(round((col("ny") / nD) * -log(col("ny") / nD), 6).as("term"))
      .agg(fpSum(col("term")).as("h_dow"))
    tot.select(col("n").as("n_events"))
      .crossJoin(broadcast(mi)).crossJoin(broadcast(hx))
      .crossJoin(broadcast(hy))
  }

  /** Local PEAKS of the 31-day revenue trend: days whose centered moving
    * total strictly exceeds both calendar neighbors' — the promotion/
    * season-spike localizer read on the SMOOTHED line (raw daily peaks
    * are weekday noise; q251's trend is where campaign effects surface).
    * Pure integer comparisons on the ×31-scale trend.
    *
    * Scale shape: the trend table is calendar-sized; neighbors arrive by
    * two day-shifted self-joins (equality on the date key).
    */
  def trendPeaks(spark: SparkSession, sfDir: String,
      half: Int = 15): DataFrame = {
    val win = 2 * half + 1
    val spine = dailyCentsSpine(spark, sfDir).select(col("day"), col("x"))
    val trend = spine
      .withColumn("k", explode(sequence(lit(-half), lit(half))))
      .groupBy(date_add(col("day"), col("k")).as("day"))
      .agg(sum(col("x")).as("t"), count(lit(1)).as("nw"))
      .where(col("nw") === win)
      .select(col("day"), col("t"))
    trend.as("c")
      .join(trend.select(date_add(col("day"), 1).as("day"),
        col("t").as("t_prev")), "day")
      .join(trend.select(date_add(col("day"), -1).as("day"),
        col("t").as("t_next")), "day")
      .where(col("t") > col("t_prev") && col("t") > col("t_next"))
      .select(col("day"), col("t").as("trend_fp"),
        col("t_prev").as("prev_fp"), col("t_next").as("next_fp"))
  }

  /** Fulfillment SHIP-LAG histogram: line items by (l_shipdate −
    * o_orderdate) days, with each lag's share and the cumulative share —
    * the operational SLA curve ("x% of lines ship within k days") that
    * the TPC-H-ish schema supports exactly. Lags are calendar-bounded,
    * so the histogram grain is bounded no matter the line-item count.
    *
    * Determinism: integer counts; shares are single rounded divisions.
    *
    * Scale shape: one orderkey equality join (the q02 shape), one
    * map-side-combinable lag collapse, a cumulative window over the
    * bounded lag grain.
    */
  def shipLagHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val lags = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_shipdate"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_orderdate")), "o_orderkey")
      .select(datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
        .cast("long").as("lag_days"))
      .groupBy(col("lag_days")).agg(count(lit(1)).as("n_lines"))
    val w = Window.orderBy(col("lag_days"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(lit(1))
    lags
      .withColumn("cum", sum(col("n_lines")).over(w))
      .withColumn("n", sum(col("n_lines")).over(tot))
      .select(col("lag_days"), col("n_lines"),
        round(col("n_lines").cast("double") / col("n"), 6).as("share"),
        round(col("cum").cast("double") / col("n"), 6).as("cum_share"))
  }

  /** Theil–Sen robust trend of daily order revenue: the median of all
    * pairwise day-to-day slopes over the zero-filled calendar spine — the
    * estimator that shrugs off the outlier days that drag q202's OLS
    * slope around (breakdown point 29% vs OLS's single-point fragility).
    *
    * Determinism: each slope is a ×10⁶ truncating integer division of
    * exact cent differences — numerators are shifted by 2⁴⁰·Δdays before
    * the divide so both engines divide POSITIVE integers (Spark's DIV
    * truncates toward zero, DuckDB's // floors; they agree only on
    * non-negative operands), then un-shifted. The median picks the two
    * middle order statistics by exact integer rank and averages them in
    * one pinned expression.
    *
    * Scale shape: the pair space is |days|² — bounded by the TIME RANGE,
    * not the corpus (the q191 spine contract) — so after the one
    * corpus-scale day-grain collapse, the slope distribution and its
    * median solve run ON THE DRIVER over the collected calendar
    * (METADATA-sized at any corpus scale; the q172/TrainedCodebook
    * discipline). The previous all-SQL form cumulated counts with an
    * unpartitioned window over the ~|days|²/2 DISTINCT slope values —
    * a single-partition sort of millions of rows that cost 6.6 s at
    * sf0.1 for what is 2.8M in-JVM long divisions (~0.2 s).
    */
  def theilSenTrend(spark: SparkSession, sfDir: String): DataFrame =
    theilSenTrendOf(Tables.orders(spark, sfDir))

  /** [[theilSenTrend]] over an arbitrary orders frame — the
    * fixture-testable core.
    */
  def theilSenTrendOf(orders: DataFrame): DataFrame = {
    val spine = dailyCentsSpineOf(orders).select(col("day"), col("x"))
      .collect()
      .map(r => (r.getDate(0).toLocalDate.toEpochDay, r.getLong(1)))
      .sortBy(_._1)
    val shift = 1L << 40
    val slopes = new Array[Long](spine.length * (spine.length - 1) / 2)
    var k = 0
    var i = 0
    while (i < spine.length) {
      var j = i + 1
      while (j < spine.length) {
        val dd = spine(j)._1 - spine(i)._1
        // shifted so the truncating division sees POSITIVE integers —
        // bit-identical to the SQL form Spark's DIV / DuckDB's // compute
        slopes(k) = ((spine(j)._2 - spine(i)._2) * 1000000L + shift * dd) / dd - shift
        k += 1
        j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(slopes)
    val n = slopes.length.toLong
    val lo = slopes(((n + 1) / 2 - 1).toInt)
    val hi = slopes((n / 2 + 1 - 1).toInt)
    val spark = orders.sparkSession
    import spark.implicits._
    Seq((spine.length.toLong, n, lo, hi))
      .toDF("n_days", "n_pairs", "slope_lo_fp", "slope_hi_fp")
      .withColumn("slope_cents_per_day",
        round((col("slope_lo_fp") + col("slope_hi_fp")).cast("double")
          / 2000000.0, 6))
  }

  /** Referential-integrity audit of the star schema (q290): for every
    * declared FK relationship, child-row and child-key cardinalities,
    * NULL-FK count, orphan child rows (FK value with no parent), and
    * parent-side coverage (parents referenced by at least one child). The
    * Deequ-style constraint suite a warehouse runs after every load; all
    * columns exact integers.
    *
    * Scale shape (r17 form): per relation, the child collapses to its
    * KEY GRAIN first — one map-side-combinable count per distinct FK
    * value — and only that grain joins the parent-key set (broadcast at
    * dim scale, shuffled key-grain for fact-fact like lineitem→orders).
    * Joining and aggregating the grain instead of the row stream (guide
    * §2.3 "aggregate before you shuffle") also removes the Expand×2 +
    * double exchange Spark plans for the mixed countDistinct+count
    * aggregate: on the grain every metric is a plain conditional sum —
    * row/null counts weight by the grain count, distinct-key/referenced-
    * parent counts are row counts of the (unique-key) grain. Only the
    * 1-row parent count needs a second (parent-only) scan. The
    * per-relation rows combine via broadcast cross joins (the A11 recipe
    * — no driver collect), and the 7-row union is metadata-sized.
    */
  def fkIntegrity(spark: SparkSession, sfDir: String): DataFrame = {
    def rel(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame = {
      val pkeys = parent.select(col(pk).as("k"), lit(1).as("__p"))
      val ckeys = child.groupBy(col(fk).as("k"))
        .agg(count(lit(1)).as("__cnt"))
      val joined = ckeys.join(pkeys, Seq("k"), "left")
      val childAgg = joined.agg(
        coalesce(sum(col("__cnt")), lit(0L)).cast("long").as("n_child"),
        coalesce(sum(when(col("k").isNull, col("__cnt"))), lit(0L))
          .cast("long").as("n_null_fk"),
        count(when(col("k").isNotNull, 1)).as("n_child_keys"),
        coalesce(sum(when(col("k").isNotNull && col("__p").isNull,
          col("__cnt"))), lit(0L)).cast("long").as("n_orphan_rows"),
        count(when(col("__p").isNotNull, 1)).as("n_referenced_parent"))
      val parentAgg = pkeys.agg(count(lit(1)).as("n_parent"))
      childAgg.crossJoin(broadcast(parentAgg))
        .select(lit(name).as("relation"), col("n_child"), col("n_null_fk"),
          col("n_child_keys"), col("n_orphan_rows"), col("n_parent"),
          col("n_referenced_parent"))
    }
    val customer = Tables.customer(spark, sfDir)
    val orders = Tables.orders(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)
    val nationT = Tables.nation(spark, sfDir)
    val supplier = Tables.supplier(spark, sfDir)
    Seq(
      rel("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey"),
      rel("lineitem.l_orderkey->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
      rel("lineitem.l_partkey->part", lineitem, "l_partkey", Tables.part(spark, sfDir), "p_partkey"),
      rel("lineitem.l_suppkey->supplier", lineitem, "l_suppkey", supplier, "s_suppkey"),
      rel("customer.c_nationkey->nation", customer, "c_nationkey", nationT, "n_nationkey"),
      rel("supplier.s_nationkey->nation", supplier, "s_nationkey", nationT, "n_nationkey"),
      rel("nation.n_regionkey->region", nationT, "n_regionkey", Tables.region(spark, sfDir), "r_regionkey")
    ).reduce(_.unionAll(_))
  }

  /** Lead-lag cross-correlation (q291) between daily ORDER COUNT and daily
    * revenue cents on the zero-filled calendar spine: Pearson r of
    * (count_t, cents_{t+lag}) for lag ∈ [−maxLag, +maxLag]. Positive lags
    * ask "does today's volume predict future revenue", negative the
    * reverse — the lead-lag diagnostic a demand-planning pipeline runs
    * between any two daily series (the two-series generalization of
    * [[revenueAutocorrelation]]).
    *
    * Determinism: all six co-moment sums are exact DECIMAL(38,0) over
    * integer inputs (the q191 overflow contract — cents² at 10¹⁸ would
    * wrap a long); the only float op is the final one-expression r, rounded
    * to 6 dp at magnitude ≤ 1.
    *
    * Scale shape: identical to q191 — one day-grain aggregate over orders,
    * then everything runs on the calendar-sized spine (explode ×lags,
    * equality self-join on the shifted day key, partial+final aggregate on
    * the lag key).
    */
  def revenueCountCcf(spark: SparkSession, sfDir: String,
      maxLag: Int = 7): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
    val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("cnt"),
        coalesce(col("cents"), lit(0L)).as("cents"))
    val pairs = spine.select(col("day"), col("cnt"))
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .join(spine.select(col("day").as("yday"), col("cents").as("y")),
        expr("yday = date_add(day, lag)"))
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("cnt").cast(dec)).as("s1"),
        sum(col("y").cast(dec)).as("s2"),
        sum(col("cnt").cast(dec) * col("cnt")).as("s11"),
        sum(col("y").cast(dec) * col("y")).as("s22"),
        sum(col("cnt").cast(dec) * col("y")).as("s12"))
      .select(col("lag").cast("int").as("lag"),
        col("n").cast("long").as("n_pairs"),
        round((col("n") * col("s12") - col("s1") * col("s2")).cast("double")
          / (sqrt((col("n") * col("s11") - col("s1") * col("s1")).cast("double"))
            * sqrt((col("n") * col("s22") - col("s2") * col("s2")).cast("double"))),
          6).as("ccf"))
  }

  /** Kruskal-Wallis H test (q292): do order values differ across the five
    * o_orderpriority groups? Rank-based one-way ANOVA — the k-group
    * generalization of the q218 Mann-Whitney test. Emits one row per group
    * (n, tie-averaged rank sum ×2, mean rank) plus the global H and its
    * tie-corrected form on every row.
    *
    * Determinism: tie-averaged ranks are kept as exact integers by working
    * with DOUBLED ranks (2·rank is integral even for .5-tie averages:
    * r2 = 2·cum_before + c + 1 on the value grain). Σ R_g²/n_g is made
    * exact by integral division per group (rank_sum_x2² div (4·n_g) —
    * IntegralDivide over DECIMAL(38,0), truncation identical to DuckDB's
    * HUGEINT `//` on positives) so no float accumulates across groups; H
    * and the tie factor are single pinned IEEE expressions over those
    * exact integers (the q234 kappa recipe). The ≤1-per-group floor error
    * is ~1e-16 relative — both engines floor the SAME quotient, so the
    * doubles are identical.
    *
    * Scale shape: ranks come from the VALUE GRAIN (distinct cents values),
    * not the row stream — one map-side-combinable grain aggregate, then a
    * single prefix-sum window over the grain. The grain is bounded by the
    * value domain (cents of a bounded price range), orders of magnitude
    * smaller than the fact table; the prefix sum IS range-partitioned
    * ([[graft.operators.RangedRank]] — no single-partition window even
    * over the grain). Per-group sums are equality-keyed partial
    * aggregates; the grain→group join broadcasts the grain's rank map.
    */
  def kruskalWallisPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val g = Tables.orders(spark, sfDir)
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    // localCheckpoint: RangedRank's range sampling evaluates its input a
    // second time (r16) — here the orders scan + cents-grain count
    val grain = g.groupBy(col("cents")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ranked = graft.operators.RangedRank.withGlobalRank(grain,
        Seq(col("cents")), "grain_rank", Seq("c" -> "cum")).df
      .select(col("cents"),
        (lit(2) * (col("cum") - col("c")) + col("c") + lit(1)).as("r2"),
        col("c"))
    val perGroup = g.groupBy(col("o_orderpriority"), col("cents"))
      .agg(count(lit(1)).as("n_pc"))
      .join(broadcast(ranked.select(col("cents"), col("r2"))), Seq("cents"))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("n_pc")).as("n_orders"),
        sum(col("n_pc").cast(dec) * col("r2")).as("rank_sum_x2"))
    // exact Σ R_g²/n_g: rank_sum_x2² div (4·n_g) per group (IntegralDivide
    // — exact truncation, no decimal-scale rounding), summed as
    // DECIMAL(38,0) — no cross-group float reduction
    val hTerms = perGroup.agg(
      sum(col("n_orders")).cast("long").as("n_total"),
      count(lit(1)).as("k_groups"),
      sum(expr("CAST((rank_sum_x2 * rank_sum_x2) div (4 * n_orders) AS DECIMAL(38,0))"))
        .cast(dec).as("sum_r2n"))
    val ties = grain.agg(
      sum(col("c").cast(dec) * col("c") * col("c") - col("c")).as("tie_sum"))
    val h = (lit(12.0) / (col("n_total").cast("double")
        * (col("n_total") + lit(1)).cast("double"))
        * col("sum_r2n").cast("double")) -
      lit(3.0) * (col("n_total") + lit(1)).cast("double")
    val tieFactor = lit(1.0) - (col("tie_sum").cast("double") /
      (col("n_total").cast("double") * col("n_total").cast("double")
        * col("n_total").cast("double") - col("n_total").cast("double")))
    val globals = hTerms.crossJoin(broadcast(ties))
      .withColumn("h_stat", round(h, 6))
      .withColumn("h_tie_corrected", round(h / tieFactor, 6))
      .select(col("n_total"), col("k_groups"), col("h_stat"),
        col("h_tie_corrected"))
    perGroup
      .select(col("o_orderpriority"), col("n_orders").cast("long").as("n_orders"),
        col("rank_sum_x2").cast("long").as("rank_sum_x2"),
        round(col("rank_sum_x2").cast("double")
          / (lit(2.0) * col("n_orders").cast("double")), 6).as("mean_rank"))
      .crossJoin(broadcast(globals))
  }

  /** Welch's unequal-variance t-test (q296) between the cents-valued
    * distributions of two event types ('purchase' vs 'click'), with the
    * Welch–Satterthwaite degrees of freedom and Cohen's d effect size —
    * the standard two-sample location test a metrics pipeline runs when
    * variances can't be pooled (complements q218's rank-based
    * Mann-Whitney and q228's proportion z-test).
    *
    * Determinism: per-group n/Σx/Σx² are exact DECIMAL(38,0) (cents² sums
    * wrap a long — the q192 contract); every derived double (mean,
    * variance, se², t, df, d) is a separate pinned projection step over
    * those exact integers, mirrored expression-for-expression in the
    * oracle, so both engines evaluate the identical IEEE tree.
    *
    * Scale shape: one map-side-combinable two-group aggregate over the
    * events scan (predicate pushed to the scan); everything after is a
    * 2-row frame.
    */
  def welchTtest(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click"): DataFrame = {
    val dec = DecimalType(38, 0)
    val e = Tables.events(spark, sfDir)
      .where(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    def side(t: String, sfx: String) = Seq(
      sum(when(col("event_type") === t, 1L)).cast("long").as(s"n_$sfx"),
      sum(when(col("event_type") === t, col("cents").cast(dec))).as(s"s_$sfx"),
      sum(when(col("event_type") === t, col("cents").cast(dec) * col("cents")))
        .as(s"q_$sfx"))
    val agg = e.agg((side(typeA, "a") ++ side(typeB, "b")).head,
      (side(typeA, "a") ++ side(typeB, "b")).tail: _*)
    agg
      .withColumn("mean_a", col("s_a").cast("double") / col("n_a").cast("double"))
      .withColumn("mean_b", col("s_b").cast("double") / col("n_b").cast("double"))
      .withColumn("var_a",
        (col("n_a").cast("double") * col("q_a").cast("double")
          - col("s_a").cast("double") * col("s_a").cast("double"))
          / (col("n_a").cast("double") * (col("n_a").cast("double") - lit(1.0))))
      .withColumn("var_b",
        (col("n_b").cast("double") * col("q_b").cast("double")
          - col("s_b").cast("double") * col("s_b").cast("double"))
          / (col("n_b").cast("double") * (col("n_b").cast("double") - lit(1.0))))
      .withColumn("sea", col("var_a") / col("n_a").cast("double"))
      .withColumn("seb", col("var_b") / col("n_b").cast("double"))
      .withColumn("t_stat",
        round((col("mean_a") - col("mean_b")) / sqrt(col("sea") + col("seb")), 6))
      .withColumn("df_welch",
        round((col("sea") + col("seb")) * (col("sea") + col("seb"))
          / (col("sea") * col("sea") / (col("n_a").cast("double") - lit(1.0))
            + col("seb") * col("seb") / (col("n_b").cast("double") - lit(1.0))), 6))
      .withColumn("cohen_d",
        round((col("mean_a") - col("mean_b"))
          / sqrt(((col("n_a").cast("double") - lit(1.0)) * col("var_a")
            + (col("n_b").cast("double") - lit(1.0)) * col("var_b"))
            / (col("n_a").cast("double") + col("n_b").cast("double") - lit(2.0))), 6))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_cents_a"),
        round(col("mean_b"), 6).as("mean_cents_b"),
        round(col("var_a"), 6).as("var_cents_a"),
        round(col("var_b"), 6).as("var_cents_b"),
        col("t_stat"), col("df_welch"), col("cohen_d"))
  }

  /** Exact 1-D Wasserstein-1 distance (q297) between the same two event
    * value distributions — earth-mover distance over the cents grain:
    * W₁ = ∫|F₁−F₂|, computed as Σ_gaps |cum₁·n₂ − cum₂·n₁|·gap / (n₁·n₂)
    * with an EXACT integer numerator (emd_fp). The drift metric that sees
    * mass displacement where q216's KS sees only the max gap and q141's
    * PSI needs binning.
    *
    * Scale shape: the q292 grain discipline — collapse both streams to
    * the shared value grain (map-side combinable), then one RANGED
    * two-pass prefix sum over the grain
    * ([[graft.operators.RangedRank]]) and the lead() recast as a
    * rank+1 equality self-join (grain-sized — no single-partition
    * window anywhere). Output is one row.
    */
  def wassersteinDrift(spark: SparkSession, sfDir: String,
      typeA: String = "purchase", typeB: String = "click"): DataFrame = {
    val dec = DecimalType(38, 0)
    val e = Tables.events(spark, sfDir)
      .where(col("event_type").isin(typeA, typeB))
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
    // localCheckpoint: RangedRank's range sampling evaluates its input a
    // second time (r16) — here the filtered event scan + cents grain
    val grain = e.groupBy(col("cents")).agg(
      sum(when(col("event_type") === typeA, 1L).otherwise(0L)).as("c1"),
      sum(when(col("event_type") === typeB, 1L).otherwise(0L)).as("c2"))
      .localCheckpoint()
    val totals = e.agg(
      sum(when(col("event_type") === typeA, 1L).otherwise(0L))
        .cast("long").as("n_a"),
      sum(when(col("event_type") === typeB, 1L).otherwise(0L))
        .cast("long").as("n_b"))
    val rr = graft.operators.RangedRank.withGlobalRank(grain,
      Seq(col("cents")), "gr", Seq("c1" -> "cum1", "c2" -> "cum2")).df
    // lead(cents) without a global window: the next grain row is the one
    // at rank + 1 — a grain-sized equality join on the rank key
    val nxt = rr.select((col("gr") - 1).as("gr"),
      col("cents").as("next_cents"))
    val cum = rr.join(nxt, Seq("gr"), "left")
      .withColumn("gap", col("next_cents") - col("cents"))
    cum.where(col("gap").isNotNull)
      .crossJoin(broadcast(totals))
      .groupBy(col("n_a"), col("n_b"))
      .agg((count(lit(1)) + lit(1)).cast("long").as("grain_rows"),
        sum(abs(col("cum1").cast(dec) * col("n_b")
            - col("cum2").cast(dec) * col("n_a")) * col("gap"))
          .cast("long").as("emd_fp"))
      .select(col("n_a"), col("n_b"), col("grain_rows"), col("emd_fp"),
        round(col("emd_fp").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("wasserstein_cents"))
  }

  /** Ranking-function kitchen (q299): rank, dense_rank, ntile quartile,
    * percent_rank and cume_dist over customer account balances within each
    * nation, top-3 per nation — the remaining SQL window-ranking surface
    * not yet exercised by q08/q13 (row_number) in one gated query.
    *
    * Determinism: the window order (cents desc, custkey) is a total order,
    * so every ranking function is single-valued; percent_rank/cume_dist
    * are one-division doubles over exact integers.
    *
    * Scale shape: ONE window pass on the nation-keyed exchange evaluates
    * all five functions (ntile/percent_rank/cume_dist need the whole
    * partition, so rank-only group-limit pruning is semantically
    * unavailable — the rnk ≤ 3 filter prunes output, not work); no
    * global sort, and partition width is bounded by the nation key's
    * fan-out. Pinned in PlanShapeSpec.
    */
  def rankFunctionKitchen(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("cents").desc, col("c_custkey"))
    Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"),
        round(col("c_acctbal") * 100, 0).cast("long").as("cents"))
      .withColumn("rnk", rank().over(w).cast("int"))
      .withColumn("dense_rnk", dense_rank().over(w).cast("int"))
      .withColumn("quartile", ntile(4).over(w).cast("int"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .where(col("rnk") <= 3)
      .select(col("c_nationkey").cast("int").as("nation_key"),
        col("c_custkey"), col("cents").as("acctbal_cents"),
        col("rnk"), col("dense_rnk"), col("quartile"),
        col("pct_rank"), col("cume"))
  }

  /** Brown-Forsythe (median-based Levene) test (q300): are the value
    * variances homogeneous across the five event types? One-way ANOVA on
    * absolute deviations from each group's median — the robust
    * variance-equality check that decides whether q296's Welch correction
    * was needed. Emits one row per group (n, exact lower-median cents,
    * mean absolute deviation) with the global F and its degrees of
    * freedom on every row.
    *
    * Determinism: medians are exact integers off the per-group value-grain
    * prefix sum (the q279 recipe); deviation sums and squared-deviation
    * sums are exact DECIMAL(38,0); Σ S_g²/n_g uses the q292 IntegralDivide
    * trick so numerator and denominator of F are built from identical
    * exact integers in both engines, with one pinned IEEE expression each.
    *
    * Scale shape: grain aggregate → per-group prefix sum (value-domain
    * bounded) → broadcast median map back onto the grain — the deviation
    * pass never touches raw rows again; everything after is k rows.
    */
  def leveneBrownForsythe(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val grain = Tables.events(spark, sfDir)
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c"))
      // value-domain-bounded grain (the q38 cents rationale), checkpointed:
      // the median branch and the deviation rollup each re-ran the events
      // scan + aggregate otherwise (r17; guide §5 re-computation)
      .localCheckpoint()
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val med = grain
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wAll))
      .where(col("cum") * 2 >= col("n_g"))
      .groupBy(col("event_type"))
      .agg(min(col("cents")).as("median_cents"))
    val dev = grain.join(broadcast(med), Seq("event_type"))
      .withColumn("z", abs(col("cents") - col("median_cents")))
    val perGroup = dev.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_g"),
        max(col("median_cents")).as("median_cents"),
        sum(col("z").cast(dec) * col("c")).as("s_g"),
        sum(col("z").cast(dec) * col("z") * col("c")).as("q_g"))
    // globals as an unbounded window over the SAME |types|-row frame:
    // the crossJoin(globals) branch re-ran the whole grain→dev→perGroup
    // pipeline (r17; guide §5 re-computation). Window sums of the same
    // exact integers/decimals, then the identical IEEE f tree.
    val wG = Window.orderBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val num = col("a_floor").cast("double") -
      (col("s_all").cast("double") * col("s_all").cast("double")
        / col("n_total").cast("double"))
    val den = (col("q_all") - col("a_floor")).cast("double")
    val f = ((col("n_total").cast("double") - col("k_groups").cast("double"))
      / (col("k_groups").cast("double") - lit(1.0))) * (num / den)
    perGroup
      .withColumn("n_total", sum(col("n_g")).over(wG).cast("long"))
      .withColumn("k_groups", count(lit(1)).over(wG))
      .withColumn("s_all", sum(col("s_g")).over(wG).cast(dec))
      .withColumn("q_all", sum(col("q_g")).over(wG).cast(dec))
      .withColumn("a_floor",
        sum(expr("CAST((s_g * s_g) div n_g AS DECIMAL(38,0))")).over(wG)
          .cast(dec))
      .select(col("event_type"), col("n_g").cast("long").as("n_events"),
        col("median_cents"),
        round(col("s_g").cast("double") / col("n_g").cast("double"), 6)
          .as("mean_abs_dev"),
        col("n_total"), col("k_groups"), round(f, 6).as("f_stat"))
  }

  /** Cramér's V (q301) for the (ISO weekday × order priority) contingency
    * of orders — the [0, 1] effect size that makes q231's chi-square
    * magnitude comparable across tables: V = √(χ²/(N·min(r−1, c−1))).
    * One row: table shape, N, χ² (the q231 per-cell fixed-point recipe)
    * and V.
    *
    * Scale shape: one map-side-combinable aggregate into ≤ 35 cells;
    * everything after is cell-grid-sized.
    */
  def cramersVPriority(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderpriority"),
        (weekday(col("o_orderdate")) + lit(1)).cast("int").as("iso_dow"))
      .agg(count(lit(1)).as("observed"))
    val rowT = cells.groupBy(col("o_orderpriority"))
      .agg(sum(col("observed")).as("row_tot"))
    val colT = cells.groupBy(col("iso_dow"))
      .agg(sum(col("observed")).as("col_tot"))
    val tot = cells.agg(sum(col("observed")).as("n"))
    val grid = rowT.crossJoin(colT)
      .join(cells, Seq("o_orderpriority", "iso_dow"), "left")
      .withColumn("observed", coalesce(col("observed"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("expected",
        (col("row_tot").cast(dec) * col("col_tot")).cast("double")
          / col("n").cast("double"))
    val d = col("observed").cast("double") - col("expected")
    val scored = grid.withColumn("contrib_fp",
      round((d * d / col("expected")) * 1e6, 0).cast("long"))
    scored.agg(
      max(col("n")).cast("long").as("n_orders"),
      countDistinct(col("o_orderpriority")).cast("int").as("n_rows"),
      countDistinct(col("iso_dow")).cast("int").as("n_cols"),
      sum(col("contrib_fp")).as("chi2_fp"))
      .select(col("n_orders"), col("n_rows"), col("n_cols"),
        round(col("chi2_fp").cast("double") / 1e6, 6).as("chi2_stat"),
        round(sqrt((col("chi2_fp").cast("double") / 1e6)
          / (col("n_orders").cast("double")
            * (least(col("n_rows"), col("n_cols")) - lit(1)).cast("double"))), 6)
          .as("cramers_v"))
  }

  /** TPC-H classics pack (q305-q310): the recognizable decision-support
    * query shapes adapted to this schema's columns (no
    * l_commitdate/l_receiptdate/l_shipmode/partsupp, dates 1995-2001 —
    * each adaptation noted per query). Money sums use the 2-dp-grid
    * raw-double-sum contract (COVERAGE.md determinism audit); every
    * filter is chosen live on the testdata.
    */

  /** Q4 analogue (q305): orders placed in 1996-Q1 with at least one LATE
    * lineitem (shipped > 60 days after the order date — standing in for
    * the missing commit/receipt pair), counted per priority. The EXISTS
    * becomes a left-semi join with an equality key + range residual.
    * Scale shape: semi join shuffles on the order key; the date filters
    * push to both scans.
    */
  def tpchQ4LateOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit("1996-04-01 00:00:00")))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_shipdate"))
    o.join(l, col("l_orderkey") === col("o_orderkey")
        && col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
  }

  /** Q6 (q306): the forecast-revenue-change scan — one tight filter over
    * lineitem, no join. The showcase for full predicate pushdown: date
    * range, discount band and quantity cap all reach the parquet reader.
    */
  def tpchQ6Forecast(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00"))
        && col("l_discount").between(0.05, 0.07)
        && col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lineitems"),
        round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  /** Q14 (q307): promo revenue share for one month — p_type = 'PROMO'
    * (this schema's exact value, vs the classic's prefix). Part is the
    * broadcast dim; both sums are 2-dp-rounded BEFORE the one share
    * division (the dailyTrafficSource recipe).
    */
  def tpchQ14Promo(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-03-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
    l.join(broadcast(Tables.part(spark, sfDir)
        .select(col("p_partkey"), col("p_type"))),
        col("p_partkey") === col("l_partkey"))
      .agg(
        round(sum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount")))), 2)
          .as("promo_revenue"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        round(lit(100.0) * col("promo_revenue") / col("total_revenue"), 6)
          .as("promo_pct"))
  }

  /** Q15 (q308): top supplier(s) by 1996-Q1 revenue — the classic's
    * revenue view + scalar-subquery max, as a broadcast 1-row max joined
    * back on the ROUNDED revenue (deterministic tie surface).
    */
  def tpchQ15TopSupplier(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("total_revenue"))
    val mx = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.crossJoin(broadcast(mx))
      .where(col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name"))),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** Q17 (q309): small-quantity-order revenue for one brand — lineitems
    * under half the part's average quantity, as the classic's correlated
    * scalar subquery re-expressed: per-part averages aggregate once and
    * broadcast back (quantities are integer-valued doubles, so the
    * average is an exact-sum division — deterministic in any order).
    */
  def tpchQ17SmallQty(spark: SparkSession, sfDir: String): DataFrame = {
    val parts = Tables.part(spark, sfDir)
      .where(col("p_brand") === "Brand#13").select(col("p_partkey"))
    val l = Tables.lineitem(spark, sfDir)
      .join(broadcast(parts), col("p_partkey") === col("l_partkey"))
    val avgQ = l.groupBy(col("l_partkey").as("avg_partkey"))
      .agg((sum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    l.join(broadcast(avgQ), col("avg_partkey") === col("l_partkey"))
      .where(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(count(lit(1)).as("n_small_lines"),
        round(round(sum(col("l_extendedprice")), 2) / 7.0, 4)
          .as("avg_yearly_loss"))
  }

  /** Q19 (q310): the disjunctive brand/size/quantity predicate — three
    * OR'd conjunction bands over the part-lineitem join (container terms
    * dropped with the missing column). The pushdown showcase for
    * OR-of-ANDs: Catalyst factors the common join key and ships the
    * residual disjunction to the scans.
    */
  def tpchQ19Disjunctive(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    def band(brand: String, sizeHi: Int, qLo: Int, qHi: Int) =
      col("p_brand") === brand && col("p_size").between(1, sizeHi) &&
        col("l_quantity").between(qLo, qHi)
    l.join(broadcast(p), col("p_partkey") === col("l_partkey"))
      .where(band("Brand#13", 15, 1, 11)
        || band("Brand#23", 25, 10, 20)
        || band("Brand#34", 35, 20, 30))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
  }

  /** Exact distributed OLS via normal equations (q311): regress lineitem
    * price (whole dollars) on (quantity, discount basis points) with
    * intercept — the multi-feature generalization of q202's
    * fixed-denominator slope. The corpus-scale pass is ONE
    * map-side-combinable aggregate of the integer moment sums (n, Σq,
    * Σd, Σq², Σd², Σqd, Σy, Σqy, Σdy); the 3×3 Cramer solve then runs
    * entirely in exact DECIMAL(38,0) arithmetic, with coefficients
    * emitted as ×10⁴ integral-division fixed-point (the q292
    * IntegralDivide = `//` contract). No float exists anywhere except
    * the display columns.
    *
    * Magnitude audit (why dollars and ×10⁴): the y-column Cramer
    * determinants reach ~Σy·Σq²·Σd² ≈ 10³¹ at sf0.1 and scale linearly
    * in n³ — dollars + 10⁴ keeps det·10⁴ ≤ ~10³⁶ through sf1 (inside
    * both DECIMAL(38) and HUGEINT), where cents + 10⁶ would overflow at
    * sf0.1. Past that, block-average the moments (divide each sum by a
    * pinned block size) before the solve.
    *
    * 100 TB shape: the moment aggregate is the only data-scale stage —
    * it shuffles 9 longs per partition; the solve is O(1).
    */
  def olsNormalEquations(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val l = Tables.lineitem(spark, sfDir).select(
      col("l_quantity").cast("long").as("q"),
      round(col("l_discount") * 10000, 0).cast("long").as("d"),
      round(col("l_extendedprice"), 0).cast("long").as("y"))
    def d38(c: org.apache.spark.sql.Column) = c.cast(dec)
    val m = l.agg(
      count(lit(1)).cast(dec).as("n"),
      sum(d38(col("q"))).as("sq"), sum(d38(col("d"))).as("sd"),
      sum(d38(col("q")) * col("q")).as("sqq"),
      sum(d38(col("d")) * col("d")).as("sdd"),
      sum(d38(col("q")) * col("d")).as("sqd"),
      sum(d38(col("y"))).as("sy"),
      sum(d38(col("q")) * col("y")).as("sqy"),
      sum(d38(col("d")) * col("y")).as("sdy"))
    // X'X = [[n, sq, sd], [sq, sqq, sqd], [sd, sqd, sdd]]; X'y = [sy, sqy, sdy]
    // 3×3 determinants, fully expanded so every term is an exact decimal
    def det3(a1: String, a2: String, a3: String,
        b1: String, b2: String, b3: String,
        c1: String, c2: String, c3: String) =
      (col(a1) * (col(b2) * col(c3) - col(b3) * col(c2))
        - col(a2) * (col(b1) * col(c3) - col(b3) * col(c1))
        + col(a3) * (col(b1) * col(c2) - col(b2) * col(c1)))
    val solved = m
      .withColumn("det", det3("n", "sq", "sd", "sq", "sqq", "sqd", "sd", "sqd", "sdd"))
      .withColumn("det0", det3("sy", "sq", "sd", "sqy", "sqq", "sqd", "sdy", "sqd", "sdd"))
      .withColumn("det1", det3("n", "sy", "sd", "sq", "sqy", "sqd", "sd", "sdy", "sdd"))
      .withColumn("det2", det3("n", "sq", "sy", "sq", "sqq", "sqy", "sd", "sqd", "sdy"))
    solved.select(
      col("n").cast("long").as("n_lines"),
      expr("CAST((det0 * 10000) div det AS BIGINT)").as("intercept_fp"),
      expr("CAST((det1 * 10000) div det AS BIGINT)").as("coef_qty_fp"),
      expr("CAST((det2 * 10000) div det AS BIGINT)").as("coef_disc_fp"))
      .withColumn("intercept_dollars", round(col("intercept_fp").cast("double") / 1e4, 4))
      .withColumn("dollars_per_qty", round(col("coef_qty_fp").cast("double") / 1e4, 4))
      .withColumn("dollars_per_disc_bp", round(col("coef_disc_fp").cast("double") / 1e4, 4))
  }

  /** Order↔lineitem value reconciliation (q319): does each order's header
    * total equal the sum of its lines under the TPC-H pricing formula
    * Σ extendedprice·(1+tax)·(1−discount)? The value-level integrity
    * audit that pairs with q290's key-level FK audit — a warehouse runs
    * both after every load. Orders bucket into exact match (to the
    * cent), near (≤ $1), far, and no-lineitems; each bucket reports its
    * order count and total absolute discrepancy. (On this synthetic data
    * the headers are independent of the lines — the audit's job is to
    * MEASURE that honestly, and the spec pins the discrepancy censor.)
    *
    * Determinism: per-line cents are rounded once (pinned float product,
    * the 2-dp money class), then everything is exact integer sums.
    *
    * Scale shape: one map-side-combinable per-order line aggregate, one
    * equality join to headers (shuffle on the order key), one bucket
    * rollup.
    */
  def orderReconciliation(spark: SparkSession, sfDir: String): DataFrame = {
    val lineSums = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) + col("l_tax"))
          * (lit(1) - col("l_discount")) * 100, 0).cast("long"))
        .as("cents_calc"))
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents_header"))
      .join(lineSums, col("l_orderkey") === col("o_orderkey"), "left")
      .withColumn("diff",
        when(col("cents_calc").isNotNull,
          col("cents_header") - col("cents_calc")))
      .withColumn("bucket",
        when(col("cents_calc").isNull, "no_lineitems")
          .when(col("diff") === 0, "exact")
          .when(abs(col("diff")) <= 100, "near_1_dollar")
          .otherwise("far"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(abs(coalesce(col("diff"), lit(0L)))).cast("long")
          .as("sum_abs_diff_cents"))
  }

  /** Line-number density audit (q320): is l_linenumber a dense 1..k
    * sequence within every order? The POSITIONAL integrity check that
    * completes the suite — q290 audits keys, q319 audits values, this
    * audits ordering columns (a replayed CDC feed or a bad merge shows up
    * here first as gaps or duplicate positions). One row: orders with
    * lines, dense orders, gapped orders (distinct positions but max ≠
    * count or min ≠ 1), and orders with duplicated positions.
    *
    * Scale shape: one map-side-combinable per-order aggregate (min/max/
    * count/distinct over the line numbers), one 4-counter rollup. The
    * distinct count is `size(collect_set(...))` rather than
    * `countDistinct` (r17): mixed distinct + plain aggregates make Spark
    * Expand every row ×2 and shuffle the doubled stream through TWO
    * exchanges ((key, linenumber) then (key)); the set form keeps ONE
    * partially-aggregated exchange, and the per-group set is bounded by
    * the line-number domain (≤ lines per order), so the buffer is as
    * bounded as min/max at any scale.
    */
  def linenumberAudit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("k"),
        size(collect_set(col("l_linenumber"))).cast("long").as("kd"),
        min(col("l_linenumber")).cast("long").as("mn"),
        max(col("l_linenumber")).cast("long").as("mx"))
      .agg(count(lit(1)).as("n_orders_with_lines"),
        sum(when(col("kd") === col("k") && col("mn") === 1
          && col("mx") === col("k"), 1L).otherwise(0L)).as("n_dense"),
        sum(when(col("kd") === col("k")
          && (col("mn") =!= 1 || col("mx") =!= col("k")), 1L).otherwise(0L))
          .as("n_gapped"),
        sum(when(col("kd") =!= col("k"), 1L).otherwise(0L))
          .as("n_dup_positions"))

  /** Multiset set operations (q315): INTERSECT ALL / EXCEPT ALL between
    * the 1996 and 1997 order-priority multisets, rolled up per priority —
    * the bag-semantics half of the set-op surface q07 covers with
    * DISTINCT semantics. EXCEPT ALL's multiplicity arithmetic
    * (max(c₁−c₂, 0) copies survive) is what reconciliation jobs actually
    * need when comparing row feeds.
    *
    * Scale shape: Spark plans both operators as a count-aggregate plus
    * replicate-generate on the value key — one shuffle each on the
    * (value) key with partial aggregation, never a row-by-row
    * subtraction; the final rollup collapses the replication again (the
    * intermediate replication is the operator's contract, exercised
    * deliberately).
    */
  def multisetSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    def year(y: Int) = o
      .where(col("o_orderdate") >= to_timestamp(lit(s"$y-01-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit(s"${y + 1}-01-01 00:00:00")))
      .select(col("o_orderpriority"))
    val a = year(1996)
    val b = year(1997)
    Seq(
      ("intersect_all", a.intersectAll(b)),
      ("except_all_96_minus_97", a.exceptAll(b)),
      ("except_all_97_minus_96", b.exceptAll(a))
    ).map { case (op, df) =>
      df.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n_rows"))
        .select(lit(op).as("set_op"), col("o_orderpriority"), col("n_rows"))
    }.reduce(_.unionAll(_))
  }

  /** Kendall tau-b (q293) between daily order count and daily revenue
    * cents over the order-day grain — the rank-correlation complement of
    * q232's Spearman rho, exact over all C(n,2) day pairs with full
    * tie accounting (concordant / discordant / tied-x / tied-y / tied-both;
    * tau_b = (C−D)/√((n₀−Tx)(n₀−Ty))).
    *
    * Scale shape: the day grain is CALENDAR-sized (one map-side-combinable
    * aggregate collapses the fact table to ≤ a few thousand rows), so the
    * O(n²) pair walk runs as a documented METADATA-sized driver solve —
    * the q233 Theil-Sen discipline. The fact-table pass is the only
    * corpus-scale stage.
    */
  def kendallTauDaily(spark: SparkSession, sfDir: String): DataFrame =
    kendallTauDailyOf(Tables.orders(spark, sfDir))

  /** [[kendallTauDaily]] over an arbitrary orders frame — the
    * fixture-testable core.
    */
  def kendallTauDailyOf(orders: DataFrame): DataFrame = {
    val grain = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    var conc = 0L; var disc = 0L
    var tieX = 0L; var tieY = 0L; var tieBoth = 0L
    var i = 0
    while (i < grain.length) {
      var j = i + 1
      while (j < grain.length) {
        val dx = java.lang.Long.signum(grain(j)._1 - grain(i)._1)
        val dy = java.lang.Long.signum(grain(j)._2 - grain(i)._2)
        if (dx == 0 && dy == 0) tieBoth += 1
        else if (dx == 0) tieX += 1
        else if (dy == 0) tieY += 1
        else if (dx == dy) conc += 1
        else disc += 1
        j += 1
      }
      i += 1
    }
    val n = grain.length.toLong
    val n0 = n * (n - 1) / 2
    val spark = orders.sparkSession
    import spark.implicits._
    Seq((n, n0, conc, disc, tieX, tieY, tieBoth))
      .toDF("n_days", "n_pairs", "concordant", "discordant",
        "ties_x", "ties_y", "ties_both")
      .withColumn("tau_b",
        round((col("concordant") - col("discordant")).cast("double")
          / sqrt((col("n_pairs") - col("ties_x") - col("ties_both")).cast("double")
            * (col("n_pairs") - col("ties_y") - col("ties_both")).cast("double")),
          6))
  }

  // ───────────────────────────────────────────────────────────────────────
  // TPC-H classics pack 2 (q321-q327): the remaining decision-support
  // shapes expressible on this schema (no partsupp table, so Q2/Q9/Q11/
  // Q16/Q20 are out of reach; Q3 is already q02). Same contracts as
  // q305-q310: 2-dp money sums, live filters verified on the testdata,
  // broadcast dims, fact-key equality shuffles only.
  // ───────────────────────────────────────────────────────────────────────

  /** Q7 analogue (q321): bilateral shipping volume between two nations
    * (supplier side vs customer side, both directions) by ship year —
    * the classic's nation-pair trade report. Nation keys 3 and 7, ship
    * years 1996-1997 (live at both gate SFs).
    *
    * Scale shape: the `isin(3,7)` filters land on BOTH the (broadcast)
    * supplier dim and the customer decoration BEFORE the fact joins, so
    * non-participating rows never shuffle; the date filter pushes to the
    * lineitem scan. Only two big shuffles remain (orderkey, custkey).
    */
  def tpchQ7VolumeShipping(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).as("l_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val o = Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sfDir)
      .where(col("c_nationkey").isin(3, 7))
      .select(col("c_custkey"), col("c_nationkey"))
    val s = Tables.supplier(spark, sfDir)
      .where(col("s_nationkey").isin(3, 7))
      .select(col("s_suppkey"), col("s_nationkey"))
    val nat = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    l.join(broadcast(s), col("s_suppkey") === col("l_suppkey"))
      .join(o, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("c_custkey") === col("o_custkey"))
      .where((col("s_nationkey") === 3 && col("c_nationkey") === 7)
        || (col("s_nationkey") === 7 && col("c_nationkey") === 3))
      .join(broadcast(nat.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), "s_nationkey")
      .join(broadcast(nat.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation"))), "c_nationkey")
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(count(lit(1)).as("n_lines"), round(sum(col("rev")), 2).as("revenue"))
  }

  /** Q8 analogue (q322): a supplier nation's market share of ECONOMY-part
    * revenue sold to ASIA customers, by order year 1996-1997 — the
    * classic's national-market-share report with nation 12 (an ASIA
    * nation) as the focus. Both revenue sums round at 2 dp BEFORE the one
    * share division (the q307 recipe); an all-zero focus year emits 0.0.
    *
    * Scale shape: part (type-filtered), nation and supplier broadcast;
    * the order-date filter pushes to the orders scan; fact shuffles on
    * orderkey then custkey only.
    */
  def tpchQ8MarketShare(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .join(broadcast(Tables.part(spark, sfDir)
        .where(col("p_type") === "ECONOMY").select(col("p_partkey"))),
        col("p_partkey") === col("l_partkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val asiaCust = Tables.customer(spark, sfDir)
      .join(broadcast(Tables.nation(spark, sfDir)
        .where(col("n_regionkey") === 2).select(col("n_nationkey"))),
        col("n_nationkey") === col("c_nationkey"))
      .select(col("c_custkey"))
    val supp = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
    l.join(o, col("o_orderkey") === col("l_orderkey"))
      .join(asiaCust, col("c_custkey") === col("o_custkey"), "left_semi")
      .join(broadcast(supp), col("s_suppkey") === col("l_suppkey"))
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        coalesce(round(sum(when(col("s_nationkey") === 12, col("rev"))), 2),
          lit(0.0)).as("nation_revenue"),
        round(sum(col("rev")), 2).as("total_revenue"))
      .select(col("o_year"), col("n_lines"), col("nation_revenue"),
        col("total_revenue"),
        round(col("nation_revenue") / col("total_revenue"), 6).as("mkt_share"))
  }

  /** Q10 analogue (q323): the returned-item report — top 20 customers by
    * revenue lost to returns (`l_returnflag = 'R'`) on orders placed in
    * 1996-Q3, decorated with nation and account balance. Deterministic
    * top-k: ordered by the 2-dp-rounded revenue desc then custkey — a
    * total order, so LIMIT is engine-stable.
    *
    * Scale shape: both filters push to their scans; one orderkey shuffle,
    * one custkey shuffle; nation broadcast; the global top-20 runs as
    * TakeOrderedAndProject (per-partition heaps, no full sort).
    */
  def tpchQ10ReturnedItems(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .where(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= to_timestamp(lit("1996-07-01 00:00:00"))
        && col("o_orderdate") < to_timestamp(lit("1996-10-01 00:00:00")))
      .select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    l.join(o, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("rev")), 2).as("revenue"))
      .join(c, col("c_custkey") === col("o_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("n_nationkey") === col("c_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Q13 analogue (q324): the customer order-count distribution — how
    * many customers placed k orders each, with the classic's
    * "special-request" exclusion standing in as priority ≠ 1-URGENT
    * (this schema has no comment column). Zero-order customers appear
    * via the left join (the q04 contract).
    *
    * Scale shape: orders pre-aggregate to (custkey, count) before the
    * join — the join input is customer-sized, not order-sized; the final
    * distribution rollup is tiny.
    */
  def tpchQ13OrderCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val perCust = Tables.orders(spark, sfDir)
      .where(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    Tables.customer(spark, sfDir).select(col("c_custkey"))
      .join(perCust, col("o_custkey") === col("c_custkey"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** Q18 analogue (q325): large-volume orders — orders whose total line
    * quantity exceeds 250 units (the top ~1% at both gate SFs), with the
    * customer and header decoration. Quantities are integer-valued
    * doubles, so the per-order sum is exact and ships as BIGINT.
    *
    * Scale shape: the quantity rollup is map-side combinable and the
    * HAVING filter collapses the join input to the handful of qualifying
    * orders before either decoration join.
    */
  def tpchQ18LargeVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val big = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"))
      .where(col("sum_qty") > 250)
    Tables.orders(spark, sfDir)
      .join(big, col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey"), col("c_name")),
        col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
  }

  /** Q21 analogue (q326): suppliers who kept finished orders waiting —
    * for each completed ('F') multi-supplier order where EXACTLY ONE
    * supplier shipped late (> 60 days after the order date, the q305
    * lateness proxy for the missing commit/receipt pair), charge that
    * supplier one wait. The classic's EXISTS/NOT-EXISTS pair becomes a
    * per-(order, supplier) late-flag rollup plus a per-order gate —
    * equality-keyed end to end where the textbook plan re-scans lineitem
    * twice with correlated subqueries.
    *
    * Scale shape: one orderkey shuffle for the flag rollup; the order
    * gate and the wait count both run on the (order, supplier) grain,
    * which is already orders-of-magnitude smaller than lineitem; the
    * supplier name decoration is a broadcast.
    */
  def tpchQ21WaitingSuppliers(spark: SparkSession, sfDir: String): DataFrame = {
    val perOrderSupp = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir)
        .where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1).otherwise(0))
        .as("late"))
    // the gate keeps exactly the orders with ONE late supplier, so that
    // supplier is recoverable inside the per-order aggregate (max over a
    // singleton) — one pass over perOrderSupp instead of two evaluations
    // of the lineitem⋈orders join plus a semi-join back
    perOrderSupp
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"),
        max(when(col("late") === 1, col("l_suppkey"))).as("late_supp"))
      .where(col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy(col("late_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(spark, sfDir)
        .select(col("s_suppkey"), col("s_name"))),
        col("s_suppkey") === col("late_supp"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
  }

  /** Q22 analogue (q327): the global-sales-opportunity report — customers
    * with above-average positive account balances and no recent orders
    * (none on/after 1999-01-01), counted per nation (standing in for the
    * classic's phone country code, which this schema lacks).
    *
    * Determinism: the threshold is EXACT integer arithmetic — mean
    * positive balance in cents via integral division (`div`, truncation
    * identical cross-engine) — so the `>` gate never sits on a float
    * ulp; the final balance sum is the 2-dp money class.
    *
    * Scale shape: the threshold is a 1-row broadcast; the no-recent-
    * orders test is a left-anti join on the custkey shuffle; nation is
    * broadcast.
    */
  def tpchQ22GlobalSales(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .withColumn("cents", round(col("c_acctbal") * 100, 0).cast("long"))
    val thr = cust.where(col("cents") > 0)
      .agg(expr("sum(cents) div count(1)").as("thr_cents"))
    val recent = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= to_timestamp(lit("1999-01-01 00:00:00")))
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(thr))
      .where(col("cents") > col("thr_cents"))
      .join(recent, col("o_custkey") === col("c_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, sfDir)
        .select(col("n_nationkey"), col("n_name"))),
        col("n_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_custs"),
        round(sum(col("c_acctbal")), 2).as("total_acctbal"))
  }

  /** Partial autocorrelation of daily revenue at lags 1-3 (q328) via
    * exact Yule-Walker/Cramer arithmetic — the model-order diagnostic
    * that separates "AR(1) decay" from "real lag-2/3 structure", read
    * next to q191's raw ACF. Autocovariances over the zero-filled
    * calendar spine come from EXACT integer sums: with S = Σx, n days
    * and per-lag sums (Σx·x₊ₖ and the head/tail partials), the
    * mean-centered covariance scales to n²·cₖ = n²Σxx₊ₖ − nS(Sₕ+Sₜ) +
    * (n−k)S², all Decimal(38,0); each rₖ = cₖ/c₀ ships as ×10⁶
    * integral-division fixed point (the q311 `div` contract). The
    * Durbin-Levinson steps then run on those exact 10⁻⁶-grid doubles
    * with the identical expression shape both engines:
    * φ₂₂ = (r₂−r₁²)/(1−r₁²), φ₃₃ from the order-2 coefficients.
    *
    * Scale shape: orders collapse to day grain first (map-side combine);
    * the lag self-join and every aggregate after run on the TINY
    * calendar spine (≤ a few thousand rows × 4 lag copies).
    */
  def pacfDailyRevenue(spark: SparkSession, sfDir: String): DataFrame =
    pacfDailyRevenueOf(Tables.orders(spark, sfDir))

  /** [[pacfDailyRevenue]] over an arbitrary orders frame — the
    * fixture-testable core.
    */
  def pacfDailyRevenueOf(orders: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val spine = dailyCentsSpineOf(orders)
      .select(datediff(col("day"), col("d0")).as("i"), col("x"))
    val shifted = spine.select(col("i").as("j"), col("x").as("y"))
    val lagAgg = spine
      .withColumn("k", explode(sequence(lit(0), lit(3))))
      .join(shifted, col("j") === col("i") + col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_k"),
        sum(col("x").cast(dec) * col("y")).as("sxy"),
        sum(col("x")).as("sh"), sum(col("y")).as("st"))
    val g = lagAgg.where(col("k") === 0)
      .select(col("n_k").as("n"), col("sxy").as("sxx"), col("sh").as("s"))
    val perLag = lagAgg.crossJoin(broadcast(g))
      .withColumn("num", col("sxy") * (col("n") * col("n"))
        - col("s").cast(dec) * col("n") * (col("sh") + col("st"))
        + col("s").cast(dec) * col("s") * col("n_k"))
      .withColumn("den", col("sxx") * (col("n") * col("n"))
        - col("s").cast(dec) * col("s") * col("n"))
      .withColumn("r_fp", expr("CAST((num * 1000000) div den AS BIGINT)"))
    val wide = perLag.groupBy()
      .agg(max(col("n")).cast("long").as("n_days"),
        max(when(col("k") === 1, col("r_fp"))).as("acf1_fp"),
        max(when(col("k") === 2, col("r_fp"))).as("acf2_fp"),
        max(when(col("k") === 3, col("r_fp"))).as("acf3_fp"))
    val r1 = col("acf1_fp").cast("double") / 1e6
    val r2 = col("acf2_fp").cast("double") / 1e6
    val r3 = col("acf3_fp").cast("double") / 1e6
    val a22 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
    val a21 = r1 * (lit(1.0) - a22)
    val p3 = (r3 - a21 * r2 - a22 * r1) /
      (lit(1.0) - a21 * r1 - a22 * r2)
    wide.select(col("n_days"), col("acf1_fp"), col("acf2_fp"), col("acf3_fp"),
      round(r1, 6).as("pacf1"), round(a22, 6).as("pacf2"),
      round(p3, 6).as("pacf3"))
  }

  /** The q329/q382 SHARED lineitem buckets — ship-day decades since
    * 1995-01-01 and 400-unit price buckets, clamped to [0, 255]. One
    * definition, so the layout audit (q329) and the physical clustered
    * write it models (q382, Lake.clusteredScan) can never silently
    * diverge; the two oracles unroll the same arithmetic.
    */
  private[graft] def shipDayBucket: org.apache.spark.sql.Column =
    least(lit(255), greatest(lit(0),
      expr("datediff(to_date(l_shipdate), DATE '1995-01-01') div 10")))
      .cast("int")

  /** See [[shipDayBucket]]. Clamped at the top only: TPC-H guarantees
    * l_extendedprice > 0, so the bucket is non-negative by data contract
    * — a precondition the q329 single-long key pack (db*256 + pb)
    * depends on; a negative price would need a greatest(0) clamp here
    * AND a matching oracle change.
    */
  private[graft] def priceBucket: org.apache.spark.sql.Column =
    least(lit(255), floor(col("l_extendedprice") / 400).cast("int"))
      .cast("int")

  /** Multi-dimensional clustering audit (q329): does Z-ORDERING the data
    * beat 1-D sorting for 2-D predicates? The question every 100 TB
    * table layout decision answers before choosing cluster keys —
    * q185's zone-map audit for ONE predicate column, generalized to two.
    * Rows quantize to 8-bit (ship-decade-of-days, price-band) buckets;
    * the 16-bit Morton code interleaves their bits. Three physical
    * layouts are simulated by total-ordering rows three ways (natural
    * key order, lexicographic (day, price), Z-value) and cutting into
    * 1000-row "files"; per file the (min,max) bucket ranges decide
    * whether a pinned 2-D predicate (day band × price band) could skip
    * it. Lexicographic sort gives perfect pruning on the leading column
    * and none on the second; the Z-order curve prunes on BOTH — the
    * audit reports files-scanned under each so the saving is a number,
    * not folklore.
    *
    * Determinism: bucket and Morton arithmetic are pure integer
    * shift/mask ops; every layout's order is total (key tiebreakers);
    * all outputs are exact counts but the 6-dp skip rate.
    *
    * Scale shape: NO global sort, and — the r11 fix — NO row-grain
    * explode: the r11 form pushed 3×|lineitem| (layout, key) rows
    * through one histogram + window + join chain, which made this the
    * slowest bench median. The bucketed layouts' per-file stats are a
    * pure function of the (db, pb) key HISTOGRAM (≤ 65k rows — every
    * row of a key shares db, pb, and the predicate flag), so both
    * bucketed layouts now rank the histogram alone: one ranged prefix
    * sum ([[graft.operators.RangedRank]]) assigns each key its
    * exclusive row offset, each key row explodes into the ≤
    * (n/rowsPerFile + 65k) files its contiguous row range spans, and
    * per-file rows/zone stats fall out of interval arithmetic — rows in
    * file f = |[off, off+cnt) ∩ [f·F, (f+1)·F)|. The natural layout's
    * key IS the unique PK, so its rank is one direct RangedRank pass
    * over the row grain (range shuffle + per-partition walk — exactly
    * how a distributed writer assigns file boundaries at 100 TB). The
    * fact is scanned twice (histogram + natural rank), each a single
    * shuffle; nothing row-grain is ever windowed or joined.
    */
  def zorderLayoutAudit(spark: SparkSession, sfDir: String,
      rowsPerFile: Int = 1000): DataFrame = {
    val base = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"),
        shipDayBucket.as("db"), priceBucket.as("pb"))
    def hitOf = (col("db").between(30, 60)
      && col("pb").between(40, 90)).cast("int")
    val F = rowsPerFile.toLong
    // natural layout (lid 0): the sort key is the unique PK itself, so
    // the global rank is one distributed RangedRank pass at row grain —
    // no histogram (a unique key's histogram IS the row grain) and no
    // window (every key group is a single row)
    val natRanked = graft.operators.RangedRank.withGlobalRank(
      base.withColumn("hit", hitOf),
      Seq(col("l_orderkey"), col("l_linenumber")), "rn")
    val natFiles = natRanked.df
      .withColumn("file_id", expr(s"(rn - 1) div $F"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("db")).as("mndb"), max(col("db")).as("mxdb"),
        min(col("pb")).as("mnpb"), max(col("pb")).as("mxpb"),
        sum(col("hit")).as("hits"))
      .select(lit(0).as("lid"), col("file_id"), col("n_rows"),
        col("mndb"), col("mxdb"), col("mnpb"), col("mxpb"), col("hits"))
    // bucketed layouts (lid 1 lex, lid 2 z-order): aggregate to the
    // (db, pb) histogram FIRST — both layouts' sort keys (db·256+pb and
    // the Morton code) are functions of the key, so everything after
    // the map-side-combinable count runs on ≤ 65k rows per layout
    val hist = base.groupBy(col("db"), col("pb"))
      .agg(count(lit(1)).as("kcnt"))
      .withColumn("hit", hitOf)
    val keyed = hist.select(col("db"), col("pb"), col("kcnt"), col("hit"),
        explode(array(
          struct(lit(1).as("lid"),
            (col("db").cast("long") * 256 + col("pb").cast("long")).as("s1")),
          struct(lit(2).as("lid"),
            graft.functions.Spatial.morton(Seq(col("db"), col("pb")), 8)
              .as("s1")))).as("o"))
      .select(col("o.lid").as("lid"), col("o.s1").as("s1"),
        col("db"), col("pb"), col("kcnt"), col("hit"))
      // localCheckpoint: RangedRank's range sampling evaluates its input
      // a second time (r16) — here the full fact scan + histogram; the
      // frame is histogram-grain (≤ 2·65k rows) at any corpus size
      .localCheckpoint()
    // inclusive ranged prefix − own count = the key's exclusive global
    // row offset; layouts are contiguous in (lid, s1) order and each
    // holds ALL rows, so lid 2's base is exactly the natural pass's
    // total (already a driver value from pass A — no extra action)
    val pref = graft.operators.RangedRank.withGlobalRank(keyed,
        Seq(col("lid"), col("s1")), "krank", Seq("kcnt" -> "kcum")).df
      .withColumn("off", col("kcum") - col("kcnt")
        - when(col("lid") === 2, lit(natRanked.total)).otherwise(lit(0L)))
    // a key's rows occupy the contiguous range [off, off+kcnt): explode
    // it across the files it spans (every spanned file overlaps by ≥ 1
    // row) and split the count by interval overlap — histogram-grain
    // work producing exactly the per-(file, key) contributions
    val bucketFiles = pref
      .select(col("lid"), col("db"), col("pb"), col("kcnt"), col("hit"),
        col("off"),
        explode(sequence(expr(s"off div $F"),
          expr(s"(off + kcnt - 1) div $F"))).as("file_id"))
      .withColumn("rows_in",
        least(col("off") + col("kcnt"), (col("file_id") + 1) * F)
          - greatest(col("off"), col("file_id") * F))
      .groupBy(col("lid"), col("file_id"))
      .agg(sum(col("rows_in")).as("n_rows"),
        min(col("db")).as("mndb"), max(col("db")).as("mxdb"),
        min(col("pb")).as("mnpb"), max(col("pb")).as("mxpb"),
        sum(col("rows_in") * col("hit")).as("hits"))
      .select(col("lid"), col("file_id"), col("n_rows"),
        col("mndb"), col("mxdb"), col("mnpb"), col("mxpb"), col("hits"))
    natFiles.unionByName(bucketFiles)
      .select(col("lid"), col("file_id"),
        (col("mndb") <= 60 && col("mxdb") >= 30
          && col("mnpb") <= 90 && col("mxpb") >= 40).cast("int").as("ovl"),
        (col("hits") > 0).cast("int").as("has_hits"), col("hits"))
      .groupBy(col("lid"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("ovl")).as("files_scanned"),
        sum(col("has_hits")).as("files_with_hits"),
        sum(col("hits")).as("n_rows_matched"))
      .select(
        element_at(array(lit("natural"), lit("lex_day_price"), lit("zorder")),
          col("lid") + 1).as("layout"),
        col("n_files"), col("files_scanned"), col("files_with_hits"),
        col("n_rows_matched"),
        round(lit(1.0) - col("files_scanned").cast("double")
          / col("n_files"), 6).as("skip_rate"))
  }

  /** Incremental-aggregate maintenance audit (q333): does BASE ⊕ DELTA
    * equal a full recompute? The correctness gate every incremental ETL
    * pipeline runs before trusting a merge-on-read daily rollup: orders
    * split at a cutoff (base < 1999-01-01 ≤ delta), each side aggregates
    * to day grain independently, the two grains combine with the
    * algebraic merge (sum ⊕ sum via full-outer coalesce — the only merge
    * shape that is safe to run incrementally), and the result diffs
    * against the single-pass recompute. One row: side day counts, the
    * mismatch count (0 on a correct merge), and both positional mod-97
    * checksums (the q280 recipe) so a divergence is visible even if
    * counts happen to agree.
    *
    * Scale shape: three map-side-combinable day-grain aggregates and two
    * calendar-sized joins — the fact table never shuffles at row grain;
    * at 100 TB the base grain is the stored rollup, so only delta scans.
    */
  def incrementalAggAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cut = to_timestamp(lit("1999-01-01 00:00:00"))
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderdate"), to_date(col("o_orderdate")).as("day"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    def grain(df: DataFrame, cn: String, nn: String) = df
      .groupBy(col("day"))
      .agg(sum(col("cents")).as(cn), count(lit(1)).as(nn))
    val base = grain(o.where(col("o_orderdate") < cut), "b_cents", "b_n")
    val delta = grain(o.where(col("o_orderdate") >= cut), "d_cents", "d_n")
    val merged = base.join(delta, Seq("day"), "full_outer")
      .select(col("day"), col("b_cents"), col("d_cents"),
        (coalesce(col("b_cents"), lit(0L)) + coalesce(col("d_cents"), lit(0L)))
          .as("m_cents"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L)))
          .as("m_n"))
    val full = grain(o, "f_cents", "f_n")
    def checksum(c: org.apache.spark.sql.Column) =
      sum(c.cast(dec) * (datediff(col("day"), lit("1970-01-01")) % 97 + 1))
        .cast("long")
    merged.join(full, Seq("day"), "full_outer")
      .agg(
        sum(when(col("b_cents").isNotNull, 1L).otherwise(0L)).as("x1"),
        sum(when(col("d_cents").isNotNull, 1L).otherwise(0L)).as("x2"),
        count(lit(1)).as("n_days_merged"),
        sum(when(col("m_cents") =!= col("f_cents")
          || col("m_n") =!= col("f_n")
          || col("m_cents").isNull || col("f_cents").isNull, 1L)
          .otherwise(0L)).as("n_mismatched_days"),
        checksum(coalesce(col("m_cents"), lit(0L))).as("checksum_merged"),
        checksum(coalesce(col("f_cents"), lit(0L))).as("checksum_full"))
      .select(col("x1").as("n_days_base"), col("x2").as("n_days_delta"),
        col("n_days_merged"), col("n_mismatched_days"),
        col("checksum_merged"), col("checksum_full"))
  }

  /** Holt linear (double-exponential) forecast backtest (q334) over
    * daily revenue in EXACT dyadic fixed point — the trend-aware upgrade
    * of q203's level-only EWMA backtest: level ℓₜ = (xₜ + ℓₜ₋₁ + bₜ₋₁)/2
    * (α = ½) and trend bₜ = (ℓₜ − ℓₜ₋₁ + 3bₜ₋₁)/4 (β = ¼), both as
    * integer cents with truncating division (`div`/`//`/Scala `/` all
    * truncate toward zero — the q311 contract), so every step is
    * bit-identical cross-engine with no float recursion anywhere. The
    * one-step-ahead forecast ℓ+b scores against the next day's actual;
    * the audit emits the exact error totals plus the final state.
    *
    * Scale shape: the fact table collapses to the calendar-day grain
    * first (map-side combine); the inherently SEQUENTIAL recursion then
    * runs driver-side over the calendar-sized series — the q233
    * Theil-Sen/q293 Kendall documented discipline (a recurrence over
    * ~2.4k days is metadata, not data).
    */
  def holtBacktest(spark: SparkSession, sfDir: String): DataFrame =
    holtBacktestOf(spark, Tables.orders(spark, sfDir))

  /** [[holtBacktest]] over an arbitrary orders frame — the
    * fixture-testable core.
    */
  def holtBacktestOf(spark: SparkSession, orders: DataFrame): DataFrame = {
    val xs = dailyCentsSpineOf(orders)
      .orderBy(col("day")).select(col("x"))
      .collect().map(_.getLong(0))
    var l = xs(0)
    var b = 0L
    var totAbs = 0L
    var maxAbs = 0L
    var i = 1
    while (i < xs.length) {
      val err = math.abs(xs(i) - (l + b))
      totAbs += err
      if (err > maxAbs) maxAbs = err
      val lNew = (xs(i) + l + b) / 2
      b = (lNew - l + 3 * b) / 4
      l = lNew
      i += 1
    }
    val n = xs.length.toLong
    val mae = BigDecimal(totAbs.toDouble / ((n - 1).toDouble * 100.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq((n, l, b, totAbs, maxAbs, mae))
      .toDF("n_days", "final_level_cents", "final_trend_cents",
        "total_abs_err_cents", "max_abs_err_cents", "mae_dollars")
  }

  /** Seasonal-naive (lag-7) forecast backtest (q343): score x̂_t = x_{t−7}
    * against the zero-filled daily spine, next to the naive lag-1
    * baseline on the SAME scored range — the standard pair of floors any
    * real model (q203 EWMA, q334 Holt) must beat, and the cheapest
    * weekly-seasonality detector (skill < 1 ⇔ weekly structure exists).
    * All error totals are exact integer cents; the two MAEs and the
    * skill ratio round at 6 dp.
    *
    * Scale shape: the day-grain spine joins ITSELF by calendar
    * equality (day = day−lag) — no window, no sort, two broadcast-sized
    * sides; the fact table is touched once by the shared spine build.
    */
  def seasonalNaiveBacktest(spark: SparkSession, sfDir: String): DataFrame =
    seasonalNaiveBacktestOf(spark, Tables.orders(spark, sfDir))

  /** [[seasonalNaiveBacktest]] over an arbitrary orders frame. */
  def seasonalNaiveBacktestOf(spark: SparkSession,
      orders: DataFrame): DataFrame = {
    val spine = dailyCentsSpineOf(orders)
      .select(col("d0"), col("day"), col("x")).localCheckpoint()
    val base = spine.select(col("day"), col("x"))
    def lagged(lag: Int, name: String) = base
      .select(date_add(col("day"), lag).as("day"), col("x").as(name))
    val scored = spine
      .join(lagged(7, "x7"), "day")
      .join(lagged(1, "x1"), "day")
      .where(col("day") >= date_add(col("d0"), 7))
      .select(col("x"), abs(col("x") - col("x7")).as("e7"),
        abs(col("x") - col("x1")).as("e1"))
    scored.agg(count(lit(1)).as("n_scored"),
        sum(col("e7")).as("t7"), max(col("e7")).as("m7"),
        sum(col("e1")).as("t1"), max(col("e1")).as("m1"))
      .select(col("n_scored"),
        col("t7").as("total_abs_err7_cents"), col("m7").as("max_abs_err7_cents"),
        round(col("t7").cast("double") / (col("n_scored") * lit(100.0)), 6)
          .as("mae7_dollars"),
        col("t1").as("total_abs_err1_cents"),
        round(col("t1").cast("double") / (col("n_scored") * lit(100.0)), 6)
          .as("mae1_dollars"),
        when(col("t1") === 0L, lit(null).cast("double"))
          .otherwise(round(col("t7").cast("double") / col("t1"), 6))
          .as("skill_vs_naive"))
  }

  /** Gumbel block-maxima return level (q378, EVT type-I): weekly maxima
    * of daily revenue, a method-of-moments Gumbel fit (β = s·√6/π, μ =
    * m − γβ with the Euler-Mascheroni and √6/π constants PINNED as
    * 16-digit literals), and the 52-week return level μ + β·c₅₂ with
    * c₅₂ = −ln(−ln(51/52)) also pinned — "the weekly revenue spike you
    * should expect about once a year", the capacity-planning number no
    * quantile of the observed data can give (it extrapolates the tail).
    * Block maxima and their moment sums are exact integers; the fit is
    * a fixed scalar double sequence.
    *
    * Scale shape: day-grain collapse, week-grain max, one 1-row moment
    * rollup.
    */
  def gumbelReturnLevel(spark: SparkSession, sfDir: String): DataFrame =
    gumbelReturnLevelOf(spark, Tables.orders(spark, sfDir))

  /** [[gumbelReturnLevel]] over an arbitrary orders frame. */
  def gumbelReturnLevelOf(spark: SparkSession,
      orders: DataFrame): DataFrame = {
    val spine = dailyCentsSpineOf(orders)
    val wk = spine
      .select((datediff(col("day"), col("d0")).cast("long") / 7)
        .cast("long").as("wk"), col("x"))
      .groupBy(col("wk")).agg(max(col("x")).as("mx"))
    val m = wk.agg(count(lit(1)).as("n_weeks"),
      sum(col("mx")).as("s"),
      sum(graft.functions.Num.dec(col("mx"))
        * graft.functions.Num.dec(col("mx"))).as("sxx"),
      max(col("mx")).as("observed_max"))
    val nW = col("n_weeks").cast("double")
    val mean = col("s").cast("double") / nW
    val varS = ((col("sxx").cast("double")
      - col("s").cast("double") * col("s").cast("double") / nW)
      / (nW - lit(1.0)))
    val beta = sqrt(varS) * lit(0.779696801233676)
    val mu = mean - lit(0.5772156649015329) * beta
    m.select(col("n_weeks"), col("s").cast("long").as("sum_max_cents"),
      col("observed_max"),
      round(mean, 6).as("mean_weekly_max"),
      round(beta, 6).as("gumbel_beta"),
      round(mu, 6).as("gumbel_mu"),
      round(mu + beta * lit(3.9415503865226063), 6).as("return_level_52w"))
  }

  /** Page-Hinkley drift trajectory (q373, Page 1954; Hinkley 1971) over
    * daily revenue: the sequential mean-shift detector m_T = Σ_t (x_t −
    * x̄_t) with its running minimum — an upward drift alarm fires when
    * m_T − min_{t≤T} m_t exceeds the pinned λ. Everything is windowed
    * prefix arithmetic (rank, prefix sum, running min) — NO sequential
    * recursion, unlike Holt/compaction: the classic drift detector turns
    * out to be fully declarative. Per-day terms are ×10⁶ truncating
    * fixed points of the exact rational (t·x_t − S_t)/t, sign-split
    * because the deviation is signed.
    *
    * Scale shape: one day-grain collapse then three windows over the
    * calendar-sized table.
    */
  def pageHinkley(spark: SparkSession, sfDir: String,
      lambdaFp: Long = 100000000000000L): DataFrame =
    pageHinkleyOf(spark, Tables.orders(spark, sfDir), lambdaFp)

  /** [[pageHinkley]] over an arbitrary orders frame. */
  def pageHinkleyOf(spark: SparkSession, orders: DataFrame,
      lambdaFp: Long): DataFrame = {
    val daily = dailyCentsSpineOf(orders)
      .select(col("day"), col("x"))
    val wd = Window.orderBy(col("day"))
    val run = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("t", row_number().over(wd).cast("long"))
      .withColumn("s", sum(col("x")).over(run))
      .withColumn("dev", col("t") * col("x") - col("s"))
      .withColumn("term_fp", expr("""CASE WHEN dev >= 0
        THEN (dev * 1000000) div t
        ELSE -((-dev * 1000000) div t) END"""))
      .withColumn("m_fp", sum(col("term_fp")).over(run))
      .withColumn("min_m_fp", min(col("m_fp")).over(run))
      .select(col("day"), col("x").as("cents"), col("t"), col("term_fp"),
        col("m_fp"), col("min_m_fp"),
        (col("m_fp") - col("min_m_fp")).as("gap_fp"),
        (col("m_fp") - col("min_m_fp") > lambdaFp).cast("int").as("alarm"))
  }

  /** Tukey median polish (q363, Tukey 1977) of the daily-revenue matrix
    * (rows = day-of-week relative to the span start, columns = week
    * index): two full sweeps of alternating row-median and column-median
    * removal, leaving the additive row effects and a residual matrix
    * whose per-weekday magnitude audit is published. The ROBUST
    * decomposition next to the q343/q334 L1/L2 forecasters: a single
    * anomalous day cannot drag the weekday effect the way a mean-based
    * two-way fit would.
    *
    * Determinism: cents scale by ×16 up front, so every one of the four
    * median halvings ((lo+hi) div 2 on the ×2ᵏ grid) divides EXACTLY —
    * remainder-free division is the one case where truncating and
    * flooring engines agree on negative residuals. Medians pin ties by
    * (v, day).
    *
    * Scale shape: the corpus collapses to the day grain once (the one
    * data-scale pass); the polish sweeps then run as a documented
    * METADATA-sized driver solve over the CALENDAR-bounded grain — the
    * q233 Theil-Sen / q293 Kendall discipline (≤ a few thousand (day,
    * cents) rows at ANY data scale). The r16-era distributed form spent
    * 5 localCheckpoint jobs + ~10 window/join stages shuffling a
    * few-hundred-row table (r17; guide §1.2 — the floor was pure
    * scheduling). Sweeps are a pinned constant (2).
    */
  def medianPolish(spark: SparkSession, sfDir: String): DataFrame =
    medianPolishOf(spark, Tables.orders(spark, sfDir))

  /** [[medianPolish]] over an arbitrary orders frame. Arithmetic is the
    * exact integer recipe of the distributed form it replaced (pinned by
    * Round17OpsSpec): medians pick ranks (n+1) div 2 and (n+2) div 2 by
    * (v, day) order and halve with truncating division (remainder-free
    * on the ×16 grid), residuals/effects accumulate in Long.
    */
  def medianPolishOf(spark: SparkSession, orders: DataFrame): DataFrame = {
    val grain = dailyCentsSpineOf(orders)
      .select((datediff(col("day"), col("d0")) % 7).cast("int").as("dow"),
        (datediff(col("day"), col("d0")).cast("long") / 7).cast("long")
          .as("wk"),
        col("day"), (col("x") * 16).as("v"))
      .collect()
    final case class Cell(dow: Int, wk: Long, day: Long, var v: Long)
    val cells = grain.map(r =>
      Cell(r.getInt(0), r.getLong(1), r.getDate(2).getTime, r.getLong(3)))
    // median of a group: the two middle ranks by (v, day), summed and
    // halved with truncation toward zero — identical to the SQL
    // `(sum(v) * (3 - count(1))) div 2` over ranks (nn+1) div 2 /
    // (nn+2) div 2 (IntegralDivide and Scala Long./ both truncate)
    def med(g: Array[Cell]): Long = {
      val sorted = g.sortBy(c => (c.v, c.day))
      val nn = sorted.length
      val i1 = (nn + 1) / 2
      val i2 = (nn + 2) / 2
      if (i1 == i2) sorted(i1 - 1).v
      else (sorted(i1 - 1).v + sorted(i2 - 1).v) / 2
    }
    var rowEff = Map.empty[Int, Long]
    for (_ <- 1 to 2) {
      val rm = cells.groupBy(_.dow).map { case (k, g) => k -> med(g) }
      cells.foreach(c => c.v -= rm(c.dow))
      rowEff = if (rowEff.isEmpty) rm
        else rowEff.map { case (k, m) => k -> (m + rm(k)) }
      val cm = cells.groupBy(_.wk).map { case (k, g) => k -> med(g) }
      cells.foreach(c => c.v -= cm(c.wk))
    }
    val out = cells.groupBy(_.dow).toSeq.map { case (dow, g) =>
      (dow, g.length.toLong, rowEff(dow),
        g.map(c => math.abs(c.v)).sum, g.map(c => math.abs(c.v)).max)
    }
    import spark.implicits._
    out.toDF("dow", "n_days", "row_eff_x16", "sum_abs_resid_x16",
      "max_abs_resid_x16")
  }

  /** Wide→long reshape (q345): the daily event-type count matrix melted
    * back to (day, metric, n) rows with Spark's native `unpivot` — the
    * relational melt every metrics store needs when a wide gold table
    * feeds a long-format consumer (dashboards, ML feature stores). The
    * wide side is the pinned-values pivot (one groupBy with |types|
    * conditional counts — the q-weekday precedent); the melt itself is a
    * pure NARROW projection (`Expand`: each row fans to |types| rows with
    * zero shuffle), so round-tripping wide↔long costs one aggregate total.
    * Zero cells survive the trip: conditional counts emit 0, not null,
    * and unpivot only drops nulls.
    *
    * Scale shape: one map-side-combinable aggregate on the day grain,
    * then the Expand — at 100 TB the long output is |days|·|types| rows,
    * still metadata-sized; no join, no window, no second scan.
    */
  def unpivotDailyMetrics(spark: SparkSession, sfDir: String): DataFrame =
    unpivotDailyMetricsOf(Tables.events(spark, sfDir))

  /** Sharded-coreset quantile sketch audit (q349): the MERGEABLE
    * quantile summary every distributed percentile really computes —
    * each shard sorts its slice and keeps every `step`-th order statistic
    * with weight `step` (a rank-space coreset; per-shard rank error
    * < step, global error ≤ shards·step) — estimated p50/p90/p99 of the
    * lineitem price, audited against the exact rank of the estimate.
    * This is the quantile member of the sketch-audit family (q210 KMV ↔
    * distinct count, q215 HLL, q209 CMS ↔ frequency): q38 gates the
    * EXACT percentiles; this gates the summary you would actually ship
    * from 1000 executors.
    *
    * Scale shape: shard = pinned hash (no data movement assumptions),
    * per-shard k-th-order-statistic prune is one partitioned window; the
    * kept coreset is N/step rows — production picks step ≈ N/budget so
    * the cumulative-weight finish (one small window) runs over a
    * bounded summary; the audit's exact-rank columns are one
    * conditional-count scan with the 3-row estimate table broadcast.
    *
    * Determinism: prices are exact cents; per-shard order pins ties by
    * (cents, orderkey, linenumber); the only doubles are the two 6-dp
    * rounded ratios.
    */
  def coresetQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    coresetQuantilesOf(spark, Tables.lineitem(spark, sfDir))

  /** [[coresetQuantiles]] over an arbitrary lineitem frame. */
  def coresetQuantilesOf(spark: SparkSession, lineitem: DataFrame,
      shards: Int = 8, step: Int = 32): DataFrame = {
    import spark.implicits._
    val rows = lineitem.select(
      round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
      col("l_orderkey"), col("l_linenumber"),
      (graft.functions.Hashing.stableHash32(concat(lit("cq:"),
        col("l_orderkey").cast("string"), lit("-"),
        col("l_linenumber").cast("string"))) % shards).as("shard"))
    val ws = Window.partitionBy(col("shard"))
      .orderBy(col("cents"), col("l_orderkey"), col("l_linenumber"))
    val kept = rows.withColumn("rn", row_number().over(ws))
      .where(col("rn") % step === 0)
      .select(col("cents"), col("shard"), col("rn"),
        lit(step.toLong).as("wt"))
      .localCheckpoint() // the N/step summary; reused by total + cum + est
    val tot = kept.agg(sum(col("wt")).as("w_total"))
    val wc = Window.orderBy(col("cents"), col("shard"), col("rn"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = kept.withColumn("cum_w", sum(col("wt")).over(wc))
    val targets = broadcast(Seq(0.5, 0.9, 0.99).toDF("q")
      .crossJoin(broadcast(tot))
      .select(col("q"), col("w_total"),
        greatest(lit(1L), floor(col("q") * col("w_total")).cast("long"))
          .as("target_w")))
    val est = cum.join(targets, col("cum_w") >= col("target_w"))
      .groupBy(col("q"), col("w_total"), col("target_w"))
      .agg(min(col("cents")).as("est_cents"))
    val n = lineitem.agg(count(lit(1)).as("n_rows"))
    val exact = rows.select(col("cents").as("c"))
      .crossJoin(broadcast(est.select(col("q"), col("est_cents"))))
      .groupBy(col("q"))
      .agg(sum(when(col("c") <= col("est_cents"), 1L).otherwise(0L))
        .as("exact_rank"))
    est.join(exact, Seq("q")).crossJoin(broadcast(n))
      .select(col("q"), col("n_rows"), col("w_total"), col("target_w"),
        col("est_cents"), col("exact_rank"),
        round(abs(col("exact_rank").cast("double") / col("n_rows")
          - col("q")), 6).as("rank_err"),
        round(lit((shards * step).toDouble) / col("n_rows"), 6)
          .as("err_bound"))
  }

  /** Split-conformal forecast intervals (q351, Vovk et al.; Lei et al.
    * JASA'18): the seasonal-naive lag-7 forecaster (q343) wrapped in a
    * distribution-free 80 % prediction interval — q̂ = the
    * ⌈0.8·(n_cal+1)⌉-th smallest absolute residual on the first half of
    * the scored days, coverage measured on the second half. The honest
    * answer to "how wrong is the forecast allowed to be": if the series
    * is exchangeable the eval coverage concentrates at ≥ 80 % by
    * construction, and this audit MEASURES it instead of assuming it.
    *
    * Scale shape: residuals live on the day grain (metadata-sized after
    * the one distributed daily collapse); the calibration order statistic
    * is one small window and the coverage pass one conditional count
    * against the broadcast 1-row q̂.
    *
    * Determinism: residuals are exact integer cents; the calibration
    * rank pins ties by (abs_r, day); coverage is the one 6-dp ratio.
    */
  def conformalForecast(spark: SparkSession, sfDir: String): DataFrame =
    conformalForecastOf(spark, Tables.orders(spark, sfDir))

  /** [[conformalForecast]] over an arbitrary orders frame. */
  def conformalForecastOf(spark: SparkSession,
      orders: DataFrame): DataFrame = {
    val spine = dailyCentsSpineOf(orders)
      .select(col("d0"), col("day"), col("x")).localCheckpoint()
    val scored = spine
      .join(spine.select(date_add(col("day"), 7).as("day"),
        col("x").as("x7")), "day")
      .where(col("day") >= date_add(col("d0"), 7))
      .select(col("day"), abs(col("x") - col("x7")).as("abs_r"))
    val idx = scored.withColumn("rn",
      row_number().over(Window.orderBy(col("day"))))
    val nt = broadcast(idx.agg(count(lit(1)).as("n_total"))
      .select(col("n_total"),
        floor(col("n_total") / 2).cast("long").as("n_cal")))
    val cal = idx.crossJoin(nt).where(col("rn") <= col("n_cal"))
    val qhat = broadcast(cal
      .withColumn("rq", row_number().over(
        Window.orderBy(col("abs_r"), col("day"))))
      .where(col("rq") === least(col("n_cal"),
        ceil(lit(0.8) * (col("n_cal") + 1)).cast("long")))
      .select(col("n_total"), col("n_cal"),
        col("rq").cast("long").as("k_rank"),
        col("abs_r").as("qhat_cents")))
    idx.crossJoin(nt).where(col("rn") > col("n_cal"))
      .select(col("abs_r")).crossJoin(qhat)
      .groupBy(col("n_total"), col("n_cal"), col("k_rank"),
        col("qhat_cents"))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("abs_r") <= col("qhat_cents"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("n_total"), col("n_cal"), col("n_eval"), col("k_rank"),
        col("qhat_cents"), col("n_covered"),
        round(col("n_covered").cast("double")
          / col("n_eval").cast("double"), 6).as("coverage"))
  }

  /** [[unpivotDailyMetrics]] over an arbitrary events frame. */
  def unpivotDailyMetricsOf(events: DataFrame): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val wide = events
      .select(to_date(col("ts")).as("day"), col("event_type"))
      .groupBy(col("day"))
      .agg(count(when(col("event_type") === types.head, 1)).as(types.head),
        types.tail.map(t =>
          count(when(col("event_type") === t, 1)).as(t)): _*)
    wide.unpivot(Array(col("day")), types.map(col).toArray, "metric", "n")
  }
}
