package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** Manual skew mitigation for equality joins — the fallback when AQE's
  * runtime skew-join split isn't available (e.g. the skew is known ahead of
  * time, or the build side must stay a shuffle join).
  *
  * Salting: the skewed (big) side scatters each key into `salt` sub-keys;
  * the other side replicates every row `salt` times, once per sub-key. The
  * join key becomes (key, salt_bucket), so one hot key's rows spread over
  * `salt` reducers instead of one. Replication multiplies the small side by
  * `salt` — keep it for dimension-sized right sides.
  *
  * Placement in the toolbox (in preference order): (1) `broadcast(dim)` —
  * a small dimension makes the problem vanish; (2) AQE skew-join — splits
  * oversized sort-merge partitions at runtime, covering value-level skew
  * on high-cardinality keys; (3) salting — for what both miss: the dim is
  * too big to broadcast AND the key's CARDINALITY is below the shuffle
  * parallelism (AQE can split a giant partition, but a hash join on a
  * 5-value key still has at most 5 distinct hash targets), or a
  * reproducible layout is required.
  *
  * Two scatter strategies, picked by what the fact rows look like:
  * [[saltedJoin]] (seeded rand) spreads even BYTE-IDENTICAL duplicate rows;
  * [[saltedJoinBy]] (pinned hash of a fact column) is deterministic under
  * any input order — required when the output feeds a hash-gated /
  * reproducibility-audited pipeline and the facts carry a unique id.
  */
object Skew {

  /** Shared body of the two salting strategies: scatter the big side with
    * `saltExpr`, replicate the small side once per bucket, join on
    * (key, bucket). Bucket values must land in [0, salt) as longs.
    * The join is hinted sort-merge: salting only pays off on a shuffle
    * join, and broadcasting the replicated side would buy the `salt`-fold
    * copy for nothing.
    */
  private def saltedJoinWith(big: DataFrame, small: DataFrame, key: String,
      saltExpr: Column, salt: Int): DataFrame = {
    require(salt > 0, "salt must be positive")
    val saltCol = "__graft_salt"
    val bigSalted = big.withColumn(saltCol, saltExpr.cast("long"))
    val smallReplicated = small.withColumn(saltCol,
      explode(sequence(lit(0L), lit(salt.toLong - 1))))
    bigSalted.join(smallReplicated.hint("merge"), Seq(key, saltCol), "inner")
      .drop(saltCol)
  }

  /** Inner equi-join `big ⋈ small` on `key`, with the big side salted into
    * `salt` buckets. Result equals the unsalted join (row-for-row).
    *
    * Per-row scatter via seeded rand(): identical duplicate rows (the
    * common cause of a hot key in raw event logs) must land in DIFFERENT
    * buckets, which a row-content hash cannot do. rand(seed) is
    * deterministic per (seed, partition, row position), so task retries
    * reproduce the same buckets given deterministic input partitioning.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salt: Int): DataFrame =
    saltedJoinWith(big, small, key, floor(rand(20260812L) * salt), salt)

  /** [[saltedJoin]] with a DETERMINISTIC scatter: the salt is a pinned
    * hash of `saltSource`, a high-cardinality big-side column (the fact's
    * primary key). Identical-content rows with distinct ids still spread;
    * the bucket assignment is reproducible under any input order or retry
    * — rand() depends on row position, a hash of an id column does not.
    */
  def saltedJoinBy(big: DataFrame, small: DataFrame, key: String,
      saltSource: Column, salt: Int = 16): DataFrame =
    saltedJoinWith(big, small, key, pmod(xxhash64(saltSource), lit(salt.toLong)), salt)

  /** The q80 fixture: every event enriched with its event-type's global
    * stats — a 5-distinct-value join key, the canonical low-cardinality
    * skew shape. The dim side (5 rows) would of course broadcast in
    * production; the salted join's sort-merge hint forces the shuffle path
    * on the caller's session and exercises the salted plan the way it runs
    * when the dim side is join-table-sized. Oracle: the plain unsalted join
    * (salting is a pure partitioning change — bit-identical output, which
    * is also why the deterministic [[saltedJoinBy]] variant is the one
    * under the hash gate).
    */
  def eventTypeStatsSalted(spark: SparkSession, sfDir: String,
      salts: Int = 16): DataFrame = {
    val events = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type_events"),
        round(round(sum(col("value")), 2) / count(lit(1)), 6).as("type_mean_value"))
    saltedJoinBy(events, stats, "event_type", col("event_id"), salts)
      .select(col("event_id"), col("event_type"),
        col("n_type_events"), col("type_mean_value"))
  }

  /** Join-fanout audit (q344) of the events `user_id` key — the numbers a
    * planner (human or AQE) needs BEFORE running a user-grain self-join
    * or fact-fact join: exact fanout order statistics (p50/p90/p99/max,
    * defined as the value at row ⌈q·n_keys⌉ of the (fanout, key)-sorted
    * key list — an exact, engine-agnostic contract, not an interpolated
    * percentile), the exact self-join output mass Σ n², and the share of
    * that mass owned by the single hottest key. top_key_share ≫ 1/keys
    * is the signal that salting ([[saltedJoinBy]]) or AQE skew-split is
    * mandatory; p99 ≈ p50 says the key is safe to shuffle raw.
    *
    * Scale shape: one map-side-combinable per-key count, then all
    * statistics on the KEY-grain table; the row_number over n_keys rows
    * is the RANGED two-pass rank ([[graft.operators.RangedRank]] — no
    * single-partition window even if the key grain is huge). Σ n² is
    * exact BIGINT up to ~3×10⁹ rows on one key.
    */
  def joinFanoutAudit(spark: SparkSession, sfDir: String): DataFrame =
    joinFanoutAuditOf(Tables.events(spark, sfDir)
      .select(col("user_id").as("key")))

  /** [[joinFanoutAudit]] over an arbitrary single-column key frame. */
  def joinFanoutAuditOf(keyed: DataFrame): DataFrame = {
    // localCheckpoint: consumed by the rank pass (whose range sampling
    // evaluates its input twice — r16) AND the stats rollup; without it
    // the key-grain aggregate over the input ran three times
    val counts = keyed.groupBy(col("key")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val ranked = graft.operators.RangedRank.withGlobalRank(counts,
      Seq(col("n"), col("key")), "rn").df
    val tot = counts.agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
      max(col("n")).as("max_fanout"), sum(col("n") * col("n")).as("sq"),
      max(col("n") * col("n")).as("top_sq"))
    def pct(q: Double, name: String) = ranked
      .crossJoin(broadcast(tot.select(col("n_keys"))))
      .where(col("rn") === ceil(col("n_keys") * q).cast("int"))
      .select(col("n").as(name))
    tot.crossJoin(broadcast(pct(0.5, "p50_fanout")))
      .crossJoin(broadcast(pct(0.9, "p90_fanout")))
      .crossJoin(broadcast(pct(0.99, "p99_fanout")))
      .select(col("n_keys"), col("n_rows"), col("max_fanout"),
        col("p50_fanout"), col("p90_fanout"), col("p99_fanout"),
        col("sq").as("self_join_rows"),
        round(col("top_sq").cast("double") / col("sq"), 6)
          .as("top_key_share"))
  }
}
