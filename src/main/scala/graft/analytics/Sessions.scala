package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{IntegerType, StructType, StructField}
import graft.core.Tables

/** User-session analytics over the `events` table — the Spark-native
  * re-expression of the reference's batch job
  * (/root/reference/spark_jobs/spark_batch_job.py) and of the historical
  * stateful sessionization recovered from its checkpoint (SURVEY.md §2.9).
  *
  * The reference sessionizes two ways: (a) a pre-assigned `user_session`
  * column (batch path) and (b) `(user_id, 1-minute tumbling window)`
  * (streaming path). The testdata `events` table has no session column, so
  * (b) is the batch parity key here, with `session_window` gap sessionization
  * as the idiomatic upgrade (SURVEY §2.9 note).
  *
  * Deliberate deviations from reference bugs (SURVEY §7.4.1):
  *  - `first/last(event_time)` without ordering (A2) → min/max (deterministic);
  *  - favorite-category ties (W2) → explicit tiebreak on the category value;
  *  - string-typed price summed implicitly (P16) → `value` is already double.
  *
  * Scale notes: every aggregation shuffles once on its group key with
  * map-side partial aggregation. The global "current date" (A11) is computed
  * as a broadcast 1-row cross join instead of the reference's driver-side
  * collect — same plan shape Catalyst would give a scalar subquery, and it
  * keeps the whole query lazy/distributed.
  */
object Sessions {

  /** 1-minute tumbling-window key, epoch-aligned — identical semantics to
    * `window($"ts", "1 minute")` but exposed as plain columns for oracle
    * comparability.
    */
  private def sessionKey(df: DataFrame): DataFrame =
    df.withColumn("w", window(col("ts"), "1 minute"))
      .withColumn("session_start", col("w.start"))
      .drop("w")

  /** Session-level rollup — reference A1-A5 (spark_batch_job.py:27-41). */
  def sessionLevel(spark: SparkSession, sfDir: String): DataFrame =
    sessionLevelOf(Tables.events(spark, sfDir))

  /** [[sessionLevel]] over an arbitrary (user_id, ts, event_type, value)
    * frame — e.g. a lake partition landed by the streaming sink
    * (E2EPipelineSpec's daily-cadence path).
    */
  def sessionLevelOf(events: DataFrame): DataFrame =
    sessionKey(events)
      .groupBy(col("user_id"), col("session_start"))
      .agg(
        min(col("ts")).as("first_event_time"),
        max(col("ts")).as("last_event_time"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("session_duration_seconds"),
        count(col("event_type")).as("number_of_events"),
        countDistinct(col("event_type")).as("distinct_event_types"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("is_purchase"))

  /** User-level rollup — reference A6-A9 + P14 days-since-last-purchase with
    * the -1 null sentinel (spark_batch_job.py:44-85). The anchor date is the
    * max event date over the whole table (the reference collects it to the
    * driver, A11; we broadcast-cross-join it).
    */
  def userLevel(spark: SparkSession, sfDir: String): DataFrame =
    userLevelOf(Tables.events(spark, sfDir))

  /** [[userLevel]] over an arbitrary events frame. */
  def userLevelOf(ev: DataFrame): DataFrame = {
    val anchor = ev.agg(max(to_date(col("ts"))).as("anchor_date"))
    ev.groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .cast("long").as("total_purchases"),
        round(sum(when(col("event_type") === "purchase" && col("value").isNotNull,
          col("value"))), 2).as("total_spent"),
        max(when(col("event_type") === "purchase", col("ts")))
          .as("last_purchase_time"))
      .crossJoin(broadcast(anchor))
      .withColumn("days_since_last_purchase",
        when(col("last_purchase_time").isNotNull,
          datediff(col("anchor_date"), to_date(col("last_purchase_time"))))
          .otherwise(lit(-1)).cast(IntegerType))
      .drop("anchor_date")
  }

  /** Favorite event type per user — reference A10 + W1/W2 + F2
    * (spark_batch_job.py:54-63): 2-key count, row_number over
    * (count desc), keep rank 1. Deterministic tiebreak on event_type.
    */
  def favoriteEventType(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("interaction_count"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("interaction_count").desc, col("event_type"))
    counts.withColumn("rank", row_number().over(w))
      .where(col("rank") === 1)
      .select(col("user_id"),
        col("event_type").as("favorite_event_type"),
        col("interaction_count"))
  }

  /** User profile = user-level rollup LEFT JOIN favorite category — the
    * reference's single join J1 (spark_batch_job.py:69-71).
    */
  def userEnriched(spark: SparkSession, sfDir: String): DataFrame =
    userLevel(spark, sfDir)
      .join(favoriteEventType(spark, sfDir)
          .select(col("user_id"), col("favorite_event_type")),
        Seq("user_id"), "left")

  /** Daily user activity — reference A12 (spark_batch_job.py:88-99,
    * commented report): per (user, day) session count + total duration.
    */
  def dailyActivity(spark: SparkSession, sfDir: String): DataFrame =
    sessionLevel(spark, sfDir)
      .withColumn("session_date", to_date(col("session_start")))
      .groupBy(col("user_id"), col("session_date"))
      .agg(count(lit(1)).as("num_sessions"),
        sum(col("session_duration_seconds")).as("total_duration_seconds"))

  /** Daily funnel — reference A13 (spark_batch_job.py:112-115): distinct
    * users per (day, funnel step).
    */
  def dailyFunnel(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("users_count"))

  /** Daily traffic source — reference A14 (spark_batch_job.py:123-134).
    * The testdata has no utm column; we derive one from the JSON `props`
    * payload (exercises from_json, reference P2/P18) the same way the
    * reference derives utm_source from the event payload.
    */
  def dailyTrafficSource(spark: SparkSession, sfDir: String): DataFrame = {
    val propsSchema = StructType(Seq(StructField("k", IntegerType)))
    val utm: Column = element_at(
      array(lit("facebook"), lit("google"), lit("tiktok_ads"), lit("organic")),
      (from_json(col("props"), propsSchema).getField("k") % 4) + 1)
    Tables.events(spark, sfDir)
      .withColumn("utm_source", utm)
      .groupBy(to_date(col("ts")).as("event_date"), col("utm_source"))
      .agg(countDistinct(col("user_id")).as("users_count"),
        // avg derived from the 2-decimal-rounded sum: value has 2 decimals,
        // so round(sum,2) is order-insensitive and the division is then
        // bit-deterministic across engines (plain avg() can land either
        // side of a rounding boundary depending on summation order).
        round(round(sum(col("value")), 2) / count(lit(1)), 4).as("avg_value"))
  }

  /** Gap-based sessionization — the idiomatic upgrade of the reference's
    * 1-minute tumbling window (SURVEY §2.9): `session_window` with a 30-min
    * inactivity gap. Works identically in batch and Structured Streaming.
    */
  def sessionGap(spark: SparkSession, sfDir: String, gap: String = "30 minutes"): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        min(col("ts")).as("session_start_time"),
        max(col("ts")).as("session_end_time"),
        count(lit(1)).as("number_of_events"),
        round(sum(col("value")), 2).as("session_value"))
      .drop("session_window")

  /** The user-keyed gap-session stage: events' (user_id, ts, event_id),
    * `gap_us` to the user's previous event, and per (name, gap seconds)
    * one running session id that starts a new session wherever `gap_us`
    * exceeds the gap. Gaps compare in exact microseconds (unix_micros vs
    * the oracle's epoch_us — no double seconds near the boundary), in the
    * (user_id, ts, event_id) total order; every id is one running sum
    * over the same window, so Spark plans them over one shuffle and sort.
    */
  private def gapSessionIds(spark: SparkSession, sfDir: String,
      ids: (String, Long)*): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ids.foldLeft(Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))) {
      case (df, (name, gapSec)) => df.withColumn(name,
        sum(when(col("gap_us").isNull
          || col("gap_us") > gapSec * 1000000L, 1L).otherwise(0L)).over(run))
    }
  }

  /** Capped gap-sessionization histogram (q298): 30-min-gap sessions are
    * additionally SPLIT at `cap` events — the "max session length" rule
    * every production sessionizer carries so a bot or instrumented replay
    * can't produce unbounded sessions. Emits the capped-session size
    * histogram with, per size, how many sessions are continuation
    * fragments produced by the cap (sub-session index > 0) — the
    * observability counter for how often the cap actually fires. (The
    * gate default cap=2 is deliberately below the corpus's max natural
    * session depth so the split path is live in the oracle compare;
    * production would run 50-500.)
    *
    * Determinism: session assignment is a pure function of the
    * (user_id, ts, event_id) total order; gap compare in exact
    * microseconds (unix_micros vs the oracle's epoch_us — no double
    * seconds near the boundary).
    *
    * Scale shape: two window passes over the SAME user-keyed sort (lag +
    * running sum, then row_number within session — Spark plans them on
    * one exchange) and one (user, session) rollup; the histogram is a
    * size-keyed partial aggregate. Nothing global.
    */
  def cappedSessionHistogram(spark: SparkSession, sfDir: String,
      gapSec: Int = 1800, cap: Int = 2): DataFrame = {
    val gapped = gapSessionIds(spark, sfDir, "gsid" -> gapSec)
    val rnW = Window.partitionBy(col("user_id"), col("gsid"))
      .orderBy(col("ts"), col("event_id"))
    gapped
      .withColumn("rn", row_number().over(rnW))
      .withColumn("sub", expr(s"(rn - 1) div $cap"))
      .groupBy(col("user_id"), col("gsid"), col("sub"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("session_size"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("sub") > 0, 1L).otherwise(0L)).as("n_from_splits"))
  }

  /** Session GAP-parameter sweep: for each candidate inactivity gap, the
    * session count, total event mass, singleton-session count and mean
    * session depth — the sensitivity table that justifies (or indicts)
    * the 30-minute default before every downstream session metric
    * inherits it. Read for the knee: where halving the gap stops
    * multiplying sessions, the data's natural rhythm sits.
    *
    * Determinism: integer counts; one rounded division per gap.
    *
    * Scale shape: ONE user-keyed window pass computes the inter-event
    * gap; each candidate's session ids are cumulative sums over that
    * SAME window (Spark plans one Window operator for all of them); per
    * gap one (user, sid) rollup — |gaps| equality-keyed aggregates, no
    * re-scan of the raw stream.
    */
  def sessionGapSweep(spark: SparkSession, sfDir: String,
      gapsSec: Seq[Int] = Seq(900, 1800, 3600)): DataFrame = {
    val flagged = gapSessionIds(spark, sfDir,
      gapsSec.map(g => s"sid_$g" -> g.toLong): _*).localCheckpoint()
    gapsSec.map { g =>
      flagged.groupBy(col("user_id"), col(s"sid_$g"))
        .agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("sz")).as("n_events"),
          sum(when(col("sz") === 1, 1L).otherwise(0L)).as("n_singletons"))
        .select(lit(g).as("gap_sec"), col("n_sessions"), col("n_events"),
          col("n_singletons"),
          round(col("n_events").cast("double") / col("n_sessions"), 6)
            .as("mean_events"))
    }.reduce(_ unionByName _)
  }

  /** Session RETURN-GAP histogram: hours between a 30-min-gap session's
    * END and the same user's next session START, binned at hour grain
    * with share and cumulative share — the "when do they come back"
    * distribution that separates habitual daily users from episodic
    * ones, session-grain beside q149's purchase cadence.
    *
    * Determinism: integer hour floors and counts; shares are single
    * rounded divisions.
    *
    * Scale shape: one user-keyed sessionization window, a (user, sid)
    * rollup, a user-keyed lead, then a bounded hour-grain histogram
    * (gaps are capped by the observation window, not the corpus).
    */
  def sessionReturnGaps(spark: SparkSession, sfDir: String,
      gapSec: Long = 1800L): DataFrame = {
    val sess = gapSessionIds(spark, sfDir, "sid" -> gapSec)
      .groupBy(col("user_id"), col("sid"))
      .agg(min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"))
    val sw = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    val gaps = sess
      .withColumn("next_start", lead(col("start_us"), 1).over(sw))
      .where(col("next_start").isNotNull)
      .select(expr("(next_start - end_us) DIV 3600000000L").as("gap_hours"))
      .groupBy(col("gap_hours")).agg(count(lit(1)).as("n_gaps"))
    val cw = Window.orderBy(col("gap_hours"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = Window.partitionBy(lit(1))
    gaps
      .withColumn("cum", sum(col("n_gaps")).over(cw))
      .withColumn("n", sum(col("n_gaps")).over(tot))
      .select(col("gap_hours"), col("n_gaps"),
        round(col("n_gaps").cast("double") / col("n"), 6).as("share"),
        round(col("cum").cast("double") / col("n"), 6).as("cum_share"))
  }

  /** Session PEAK-RATE histogram: each 30-min-gap session's maximum
    * events within any single minute, histogrammed — the burst-intensity
    * screen that separates human click cadence (peaks of 1-3/min) from
    * scripted replay (dozens per minute), the within-session companion
    * to q154's inter-event burstiness and a direct input to the q267
    * behavioral verdict family.
    *
    * Determinism: integer minute buckets and counts; one rounded share.
    *
    * Scale shape: the sessionization window, a (user, sid, minute)
    * collapse (map-side combinable), a (user, sid) max, and a bounded
    * peak-grain histogram.
    */
  def sessionPeakRate(spark: SparkSession, sfDir: String,
      gapSec: Long = 1800L): DataFrame = {
    val peaks = gapSessionIds(spark, sfDir, "sid" -> gapSec)
      .groupBy(col("user_id"), col("sid"),
        expr("unix_micros(ts) DIV 60000000").as("minute"))
      .agg(count(lit(1)).as("in_minute"))
      .groupBy(col("user_id"), col("sid"))
      .agg(max(col("in_minute")).as("peak_per_min"))
    val tot = Window.partitionBy(lit(1))
    peaks.groupBy(col("peak_per_min"))
      .agg(count(lit(1)).as("n_sessions"))
      .withColumn("n", sum(col("n_sessions")).over(tot))
      .select(col("peak_per_min"), col("n_sessions"),
        round(col("n_sessions").cast("double") / col("n"), 6).as("share"))
  }

  /** Session-size histogram: how many 30-min-gap sessions contain exactly
    * k events, with each size's share — the session-depth distribution
    * behind [[sessionGap]]'s per-session rows (single-event bounce
    * sessions vs long engaged tails in one glance).
    *
    * Scale shape: the sessionization is [[sessionGap]]'s one user-keyed
    * pass; then a size-keyed count rollup (bounded by the longest
    * session — bins, never events) and a one-row total broadcast.
    */
  def sessionSizeHistogram(spark: SparkSession, sfDir: String,
      gap: String = "30 minutes"): DataFrame = {
    // the total comes from a whole-frame window over the BOUNDED histogram
    // (bins, never sessions) — one sessionization pass, not two
    val hist = sessionGap(spark, sfDir, gap)
      .groupBy(col("number_of_events"))
      .agg(count(lit(1)).as("n_sessions"))
    hist
      .withColumn("n_total",
        sum(col("n_sessions")).over(Window.partitionBy()))
      .select(col("number_of_events"), col("n_sessions"),
        round(col("n_sessions").cast("double") / col("n_total"), 6).as("share"))
  }

  /** First/last event per session — reference A2/ST5 session shaping
    * (first_product_id/last_product_id, DDL spark_stream.py:116-131), done
    * deterministically with min_by/max_by on the event sequence number.
    */
  def sessionFirstLast(spark: SparkSession, sfDir: String): DataFrame =
    sessionKey(Tables.events(spark, sfDir))
      .groupBy(col("user_id"), col("session_start"))
      .agg(
        min_by(col("event_type"), col("event_id")).as("first_event_type"),
        max_by(col("event_type"), col("event_id")).as("last_event_type"),
        min(col("event_id")).as("first_event_id"),
        max(col("event_id")).as("last_event_id"))

  /** Per-session ordered event list serialized to JSON — reference A15/ST4
    * (`collect_list(struct(...))` → `to_json`, the historical stateful
    * aggregate decoded from the checkpoint + events_json DDL).
    * At 100 TB unbounded per-key lists are a hazard (SURVEY §7.4.3): we cap
    * the list with slice() — the cap is a parameter, 100 here.
    */
  def sessionEventsJson(spark: SparkSession, sfDir: String, cap: Int = 100): DataFrame =
    sessionKey(Tables.events(spark, sfDir))
      .groupBy(col("user_id"), col("session_start"))
      .agg(slice(array_sort(collect_list(
        struct(col("event_id"), col("event_type")))), 1, cap).as("events_list"))
      .select(col("user_id"), col("session_start"),
        size(col("events_list")).as("n_events"),
        to_json(col("events_list")).as("events_json"))

  /** Reverse of [[sessionEventsJson]] — reference P18/P19
    * (spark_batch_job.py:102-110): parse the serialized events array with
    * from_json(ArrayType(StructType)) and explode back to one row per
    * event. Round-trips to the original (user_id, session, event) rows for
    * sessions under the cap.
    */
  def sessionEventsExploded(spark: SparkSession, sfDir: String): DataFrame = {
    val eventSchema = org.apache.spark.sql.types.ArrayType(StructType(Seq(
      StructField("event_id", org.apache.spark.sql.types.LongType),
      StructField("event_type", org.apache.spark.sql.types.StringType))))
    sessionEventsJson(spark, sfDir)
      .select(col("user_id"), col("session_start"),
        explode(from_json(col("events_json"), eventSchema)).as("e"))
      .select(col("user_id"), col("session_start"),
        col("e.event_id").as("event_id"), col("e.event_type").as("event_type"))
  }

  /** Session-SEQUENCE dedup — the corpus-dedup toolkit pointed back at the
    * reference's clickstream domain: two sessions whose ordered event-type
    * sequences hash identically are behavioral replays (bots, scripted
    * traffic, stuck clients re-posting the same flow). One row per session
    * with its sequence hash, the number of sessions and distinct users
    * sharing it, and the replay flag — the session-level analogue of q22's
    * exact content-hash dedup.
    *
    * Scale shape: one (user, session) rollup (the q20 shuffle) building
    * the sequence IN-ROW from the capped sorted event list; the sequence
    * stats are a hash-keyed aggregate; the join back is equality-keyed on
    * seq_hash. A mega-popular sequence (every single-pageview session
    * hashes alike) concentrates its GROUP row, not the session stream —
    * AQE handles the joined hot key.
    */
  def sessionSequenceDedup(spark: SparkSession, sfDir: String,
      cap: Int = 100): DataFrame = {
    // localCheckpoint: TWO consumers read the session-grain hash frame
    // (the per-hash stats and the join-back) — without it each re-runs
    // the events scan + session aggregate + per-session md5 (the q87
    // scored-frame discipline; the frame is one narrow row per session)
    val seqs = sessionKey(Tables.events(spark, sfDir))
      .groupBy(col("user_id"), col("session_start"))
      .agg(
        md5(concat_ws(",", transform(
          slice(array_sort(collect_list(
            struct(col("event_id"), col("event_type")))), 1, cap),
          e => e.getField("event_type")))).as("seq_hash"),
        count(lit(1)).as("seq_len"))
      .localCheckpoint()
    val stats = seqs.groupBy(col("seq_hash"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
    seqs.join(stats, "seq_hash")
      .select(col("user_id"), col("session_start"), col("seq_hash"),
        col("seq_len"), col("n_sessions"), col("n_users"),
        (col("n_sessions") > 1).cast("int").as("is_replayed"))
  }

  /** Top session PATHS: the most common ordered event-type sequences per
    * 30-min-gap session, as readable `view>click>purchase` strings — the
    * navigation-pattern mining behind funnel design and anomaly triage
    * (a top path that is `click>click>click…` is a scripted client;
    * [[sessionSequenceDedup]] flags those sessions individually, this
    * ranks the shapes corpus-wide). Paths are capped at the first `cap`
    * events per session (the q20 hazard: one unbroken bot session must
    * not build an unbounded string).
    *
    * Session semantics are `session_window`'s: TOUCHING windows merge,
    * so an event exactly `gap` after its predecessor stays in the SAME
    * session (a new one needs a strictly larger gap) — pinned by fixture.
    *
    * Scale shape: one user-keyed session aggregate builds each path
    * in-row from the capped sorted event list; path counting is a
    * hash-keyed aggregate; the top-k is a TakeOrderedAndProject heap —
    * no global sort.
    */
  def sessionPaths(spark: SparkSession, sfDir: String,
      gap: String = "30 minutes", cap: Int = 50, topK: Int = 50): DataFrame =
    sessionPathsOf(Tables.events(spark, sfDir), gap, cap, topK)

  /** [[sessionPaths]] over an arbitrary events frame — the
    * fixture-testable core.
    */
  def sessionPathsOf(ev: DataFrame, gap: String = "30 minutes",
      cap: Int = 50, topK: Int = 50): DataFrame =
    ev.groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(array_join(transform(
        slice(array_sort(collect_list(
          struct(col("ts"), col("event_id"), col("event_type")))), 1, cap),
        e => e.getField("event_type")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topK)

  /** Per-user replay score over [[sessionSequenceDedup]]: how much of a
    * user's traffic is behaviorally duplicated elsewhere — the bot-account
    * ranking a clickstream curation pass sorts by before excluding
    * synthetic traffic from the training mix.
    */
  def userReplayScore(spark: SparkSession, sfDir: String): DataFrame =
    sessionSequenceDedup(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("is_replayed")).cast("long").as("n_replayed"))
      .select(col("user_id"), col("n_sessions"), col("n_replayed"),
        round(col("n_replayed").cast("double") / col("n_sessions"), 6)
          .as("replay_frac"))

  /** Event enrichment projection — reference P4-P11 (spark_stream.py:62-91):
    * date/day-of-week/hour derivations and conditional purchase columns.
    */
  def eventsEnriched(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(
        col("event_id"), col("user_id"), col("event_type"),
        to_date(col("ts")).as("event_date"),
        date_format(col("ts"), "EEEE").as("day_of_week"),
        hour(col("ts")).as("hour_of_day"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("is_purchase"),
        when(col("event_type") === "purchase" && col("value").isNotNull,
          round(col("value"), 2)).otherwise(lit(null)).as("purchase_amount"),
        when(col("value") < 50, "low")
          .when(col("value") < 200, "mid")
          .otherwise("high").as("value_bucket"))

  /** Entry/exit/bounce rates per event_type over 30-min-gap sessions —
    * the landing-page report translated to the event stream: for each
    * type, how many sessions START with it (entry), END with it (exit),
    * and consist of it ALONE (bounce), plus bounce rate among its entries
    * and its share of all session entries. First/last are deterministic
    * under the (ts, event_id) total order (min_by/max_by on the struct —
    * ties on ts break by event_id, the same order the oracle's
    * row_number uses).
    *
    * Scale shape: one user-keyed session_window pass collapses events to
    * one row per session carrying only its entry/exit types; the rollup
    * is then keyed on the BOUNDED event_type domain, and the entry total
    * is a window over that bounded table — sessions never shuffle twice.
    */
  def bounceExitRates(spark: SparkSession, sfDir: String,
      gap: String = "30 minutes"): DataFrame = {
    val perSession = Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        min_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as("entry_type"),
        max_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as("exit_type"),
        count(lit(1)).as("n_events"))
    // entry and exit rollups from ONE evaluation of the session pass: a
    // session melts into its (entry, type) and (exit, type) facts and a
    // single bounded-domain aggregate replaces the two groupBys whose
    // full-outer join re-ran the session_window aggregation per side
    // (r17; guide §5 re-computation: twin 1.7 s pipelines)
    val rates = perSession.select(explode(array(
        struct(lit("entry").as("kind"), col("entry_type").as("event_type"),
          col("n_events")),
        struct(lit("exit").as("kind"), col("exit_type").as("event_type"),
          col("n_events")))).as("o"))
      .select(col("o.kind").as("kind"), col("o.event_type").as("event_type"),
        col("o.n_events").as("n_events"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("kind") === "entry", 1L).otherwise(0L))
          .as("entry_sessions"),
        sum(when(col("kind") === "exit", 1L).otherwise(0L))
          .as("exit_sessions"),
        sum(when(col("kind") === "entry" && col("n_events") === 1, 1L)
          .otherwise(0L)).as("bounce_sessions"))
    rates
      .withColumn("n_total",
        sum(col("entry_sessions")).over(Window.partitionBy()))
      .select(col("event_type"), col("entry_sessions"), col("exit_sessions"),
        col("bounce_sessions"),
        when(col("entry_sessions") === 0, lit(null).cast("double"))
          .otherwise(round(col("bounce_sessions").cast("double")
            / col("entry_sessions"), 6)).as("bounce_rate"),
        round(col("entry_sessions").cast("double") / col("n_total"), 6)
          .as("entry_share"))
  }

  /** Session→purchase conversion per ISO weekday with Wilson 95% score
    * intervals: the uncertainty-aware version of a conversion report —
    * a weekday with 30 sessions and one with 30,000 both print a rate,
    * but only the interval says whether "Friday converts worse" is signal
    * (Wilson 1927; the interval of choice for small/skewed counts, never
    * outside [0,1] unlike the Wald interval).
    *
    * Determinism: inputs are exact integer counts; the bound formula is
    * an identical explicit expression tree on both engines built from
    * correctly-rounded IEEE ops (+,−,×,÷,√ — the q192 precedent), with
    * z pinned at 1.96 and z² at 3.8416 as separate literals.
    *
    * Scale shape: one session_window pass (the q18 shape), then a 7-row
    * weekday rollup — nothing after the sessionization is event-scale.
    */
  def conversionWilson(spark: SparkSession, sfDir: String): DataFrame = {
    val sessions = Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min(col("ts")).as("start"),
        max(when(col("event_type") === "purchase", 1).otherwise(0))
          .as("conv"))
    val byDow = sessions
      .groupBy((weekday(col("start")) + lit(1)).as("iso_dow"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("conv")).cast("long").as("n_converted"))
    val n = col("n_sessions").cast("double")
    val x = col("n_converted").cast("double")
    val p = x / n
    val z = lit(1.96)
    val z2 = lit(3.8416)
    val denom = lit(1.0) + z2 / n
    val center = (p + z2 / (n * 2)) / denom
    val half = z * sqrt(p * (lit(1.0) - p) / n + z2 / (n * n * 4)) / denom
    byDow.select(col("iso_dow").cast("int").as("iso_dow"),
      col("n_sessions"), col("n_converted"),
      round(p, 6).as("p_hat"),
      round(center - half, 6).as("wilson_lo"),
      round(center + half, 6).as("wilson_hi"))
  }

  /** Concurrent-session load: per day, how many PAIRS of different users
    * had overlapping 30-min-gap sessions — the contention/parallelism
    * signal behind capacity planning and fraud screens (bot farms show as
    * a concurrency burst no per-user view catches). An overlap is
    * attributed to the day it begins (greatest of the two session
    * starts); the pair space is blocked by shared calendar HOUR before
    * the exact interval test — the q43 bucketed-range-join discipline,
    * never an unbounded interval self-join.
    *
    * Scale shape: sessionization is the one event-scale pass; each
    * session then explodes into its covered hours (bounded by session
    * length), pairs form on hour-bucket equality, dedup on the session
    * identity pair, and the rollup is day-grain.
    */
  def concurrentSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val sessions = Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
      .select(col("user_id"), col("st"), col("en"))
    val hours = sessions.select(col("user_id"), col("st"), col("en"),
      explode(sequence(date_trunc("hour", col("st")),
        date_trunc("hour", col("en")),
        expr("INTERVAL 1 HOUR"))).as("hb"))
      // pinned-count spread on the blocking key: the pair generation below
      // is the compute-bound stage and otherwise probes the broadcast from
      // the scan's ONE partition while 31 cores idle (r17; the
      // documentsSpread rationale — a 100 TB event stream arrives in
      // thousands of splits and the exchange is session-grain, not raw)
      .repartition(sessions.sparkSession.sessionState.conf
        .numShufflePartitions, col("hb"))
    val pairs = hours.as("a").join(hours.as("b"),
        col("a.hb") === col("b.hb")
          && col("a.user_id") < col("b.user_id")
          && col("a.st") <= col("b.en") && col("b.st") <= col("a.en"))
      .select(col("a.user_id").as("u1"), col("a.st").as("st1"),
        col("b.user_id").as("u2"), col("b.st").as("st2"),
        greatest(col("a.st"), col("b.st")).as("ov_start"))
      .distinct()
    pairs.groupBy(to_date(col("ov_start")).as("day"))
      .agg(count(lit(1)).as("n_overlapping_pairs"))
  }
}
