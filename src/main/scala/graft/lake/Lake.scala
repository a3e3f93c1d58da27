package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

/** Partitioned parquet lake — the reference's bronze→silver landing zone
  * (K2: streaming parquet sink partitioned by extracted_date,
  * spark_stream.py:170-176; S2: per-date batch reads,
  * spark_batch_job.py:17-21).
  *
  * Scale notes: date partitioning keeps daily batch reads pruned to one
  * directory; the streaming file sink's transaction log gives exactly-once.
  * Readers should prefer [[readPartition]]'s filter form — Catalyst prunes
  * partitions from the predicate AND keeps the partition column in the
  * schema (the reference's path-concatenation form loses the column and
  * bypasses dynamic pruning).
  */
object Lake {

  /** K2/ST8: append-mode partitioned streaming sink with checkpointing
    * (exactly-once via the file-sink log, which is format-agnostic, so it
    * holds for every [[writePartitioned]] format).
    */
  def streamingSink(df: DataFrame, path: String, checkpoint: String,
      partitionCol: String = "extracted_date",
      format: String = "parquet"): DataStreamWriter[Row] =
    df.writeStream
      .format(format)
      .outputMode(OutputMode.Append())
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy(partitionCol)

  def startStreamingSink(df: DataFrame, path: String, checkpoint: String,
      partitionCol: String = "extracted_date"): StreamingQuery =
    streamingSink(df, path, checkpoint, partitionCol).start()

  /** Batch write, same layout, in one of the lake's four formats:
    * "parquet", "orc" (the second columnar format, for interop with
    * ORC-producing warehouses), "json" (JSON lines) or "csv" (with a
    * header row).
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCol: String = "extracted_date",
      format: String = "parquet"): Unit =
    df.write.mode("append").options(formatOptions(format))
      .partitionBy(partitionCol).format(format).save(path)

  /** Z-order clustered batch write (beyond reference — the layout the
    * q329 audit measures, made real): range-partition on the Morton
    * interleaving of the given bounded-int dimension columns, sort each
    * partition by it, and write parquet. Every output file then covers a
    * compact Z-range — a small hyper-rectangle in ALL dimensions at once
    * — so the per-file/row-group min/max statistics parquet already
    * writes prune MULTI-dimensional predicates, not just the leading
    * sort column (LakeClusteredSpec reads the real footer stats back and
    * proves the skip). This is exactly the lakehouse OPTIMIZE ZORDER
    * plan: one range shuffle + per-partition sort, no global sort, no
    * driver materialization — at 100 TB the range boundaries come from
    * the same reservoir sample Spark's range partitioner always uses.
    *
    * `dims` must be pre-bucketed to [0, 2^bits) (the caller owns the
    * binning — see q329's day/price example); `numFiles` sizes output
    * files the way a compaction job would (one range partition each).
    */
  def writeClustered(df: DataFrame, path: String, dims: Seq[String],
      numFiles: Int, bits: Int = 8): Unit =
    df.withColumn("__graft_z",
        graft.functions.Spatial.morton(dims.map(col), bits))
      .repartitionByRange(numFiles, col("__graft_z"))
      .sortWithinPartitions("__graft_z")
      .drop("__graft_z")
      .write.mode("overwrite").parquet(path)

  /** Clustered-scan round trip (q382): [[writeClustered]] driven through
    * the SCAN path end-to-end — bin lineitem into the q329 (db, pb)
    * buckets, publish the z-clustered table once per [[DurableCache]]
    * fingerprint (so a regenerated or rewritten sfDir re-clusters instead
    * of serving a stale layout), then read it back through the parquet
    * scan with the 2-D predicate pushed down and aggregate per return
    * flag. The RESULT is layout-invariant — the DuckDB oracle computes it
    * straight off the raw table — while the I/O is not: ClusteredScanSpec
    * executes this same scan and asserts the FileSourceScan's
    * numOutputRows (rows surviving parquet row-group pruning) is a
    * fraction of the table, where the natural layout reads everything.
    *
    * Scale shape: the write is one range shuffle + per-partition sort
    * (the writeClustered contract); the read is a pruned scan + one
    * map-side-combinable aggregate over the surviving rows. At 100 TB
    * the fingerprint check is a table-format snapshot id.
    */
  def clusteredScan(spark: SparkSession, sfDir: String): DataFrame =
    clusteredScanAggregate(spark.read.parquet(clusteredLineitem(spark, sfDir)))

  /** The published q382 layout's directory. */
  def clusteredLineitem(spark: SparkSession, sfDir: String): String =
    DurableCache.publish(spark, sfDir, "lineitem_z")(p =>
      writeClustered(lineitemBins(spark, sfDir), p, Seq("db", "pb"),
        numFiles = 16))

  /** The q382 rows: return flag, quantity in cents and the q329 buckets. */
  def lineitemBins(spark: SparkSession, sfDir: String): DataFrame =
    graft.core.Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"),
        round(col("l_quantity") * 100, 0).cast("long").as("qc"),
        graft.analytics.Relational.shipDayBucket.as("db"),
        graft.analytics.Relational.priceBucket.as("pb"))

  /** The q382 read side, factored so the spec can run it against any
    * layout: 2-D box predicate, per-flag exact-integer rollup.
    */
  def clusteredScanAggregate(table: DataFrame): DataFrame =
    table
      .where(col("db").between(30, 60) && col("pb").between(40, 90))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("qc")).as("qty_cents"),
        sum(col("db")).cast("long").as("sum_db"),
        sum(col("pb")).cast("long").as("sum_pb"))

  /** Bloom-indexed point lookup (q383): the OTHER half of data skipping.
    * Zone maps (q329/q382) prune RANGE predicates on clustered columns;
    * they are useless for point lookups on a high-cardinality key stored
    * in arrival order — every row group's min/max spans everything. The
    * lakehouse answer is a per-row-group BLOOM FILTER on the lookup key:
    * parquet writes it natively (`parquet.bloom.filter.enabled#col`),
    * and the reader consults it for Eq/In predicates, skipping every row
    * group whose bloom says "definitely absent" — no sort, no layout
    * change, false-positive-bounded I/O.
    *
    * This operator publishes a hash-shuffled (deliberately UNSORTED — the
    * adversarial layout for min/max) bloom-indexed copy of events once
    * per [[DurableCache]] fingerprint, then point-looks-up three pinned
    * event_ids through the scan. The result is layout-invariant (oracle on
    * the raw table); BloomSkipSpec measures the skip via scan metrics
    * against a bloom-less control copy of the same rows.
    *
    * Scale shape: the lookup reads |matching row groups| ≈ k·(1+fp rate)
    * row groups of the corpus regardless of corpus size — this is the
    * needle-in-100TB access path.
    */
  def bloomPointLookup(spark: SparkSession, sfDir: String): DataFrame = {
    val path = DurableCache.publish(spark, sfDir, "events_bloom")(p =>
      writeBloomIndexed(graft.core.Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value")), p, "event_id", shuffleCol = "user_id"))
    bloomLookupOf(spark.read.parquet(path))
  }

  /** The q383 write side: hash-shuffle on a NON-key column (so the key's
    * per-file min/max spans the whole domain) and attach a parquet bloom
    * filter to `keyCol`.
    */
  def writeBloomIndexed(df: DataFrame, path: String, keyCol: String,
      shuffleCol: String, numFiles: Int = 16,
      expectedNdv: Long = 1000000L): Unit =
    df.repartition(numFiles, col(shuffleCol))
      .write.mode("overwrite")
      .option(s"parquet.bloom.filter.enabled#$keyCol", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$keyCol",
        expectedNdv.toString)
      .parquet(path)

  /** The q383 read side, factored so the spec can run it against the
    * bloom-less control layout: three pinned event_ids (present at every
    * SF — event_id is 0-based sequential).
    */
  def bloomLookupOf(table: DataFrame): DataFrame =
    table.where(col("event_id").isin(7L, 123L, 789L))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))

  /** Dynamic partition pruning (q384): the THIRD skipping mechanism, for
    * predicates the scan cannot see statically. q382/q383 prune from
    * literal predicates (zone maps, blooms); a star-schema scan's
    * selective predicate usually lives on the DIMENSION — the fact
    * partition filter only exists at RUNTIME, after the dim side is
    * built. Catalyst's DPP inserts a `dynamicpruning` subquery into the
    * fact scan's PartitionFilters, reusing the join's broadcast to skip
    * every partition no dim row selects — at 100 TB this is the
    * difference between scanning 30 days and 5.
    *
    * This operator publishes (once per [[DurableCache]] fingerprint) a
    * day-partitioned copy of events and a day-dimension table carrying the
    * week-phase column `wk` = datediff(day, 2024-01-01) mod 7, then joins
    * the fact to the Monday rows (wk = 0 — 2024-01-01 is a Monday; pure
    * integer arithmetic, so the oracle agrees without any dow() convention
    * mismatch) and rolls up per day. Result is layout-invariant;
    * DppSpec asserts the `dynamicpruning` partition filter is in the
    * executed plan and that the fact scan surfaces only the Monday
    * partitions' rows, against a DPP-disabled control session that
    * reads everything.
    */
  def dppScan(spark: SparkSession, sfDir: String): DataFrame = {
    val (fact, dim) = dppTables(spark, sfDir)
    dppScanOf(spark.read.parquet(fact), spark.read.parquet(dim))
  }

  /** The published q384 (fact, day dimension) directories. Each publishes
    * independently and atomically, so a crash between the two writes can
    * never pin a half-built pair under one fingerprint.
    */
  def dppTables(spark: SparkSession, sfDir: String): (String, String) = {
    def ev = graft.core.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        to_date(col("ts")).as("day"))
    val fact = DurableCache.publish(spark, sfDir, "events_bydate")(p =>
      ev.write.mode("overwrite").partitionBy("day").parquet(p))
    val dim = DurableCache.publish(spark, sfDir, "events_daydim")(p =>
      ev.select(col("day")).distinct()
        .select(col("day"),
          pmod(datediff(col("day"), lit("2024-01-01").cast("date")), lit(7))
            .as("wk"))
        .coalesce(1).write.mode("overwrite").parquet(p))
    (fact, dim)
  }

  /** The q384 read side: fact ⋈ Monday-filtered dim on the partition
    * column, per-day exact rollup. Factored so the spec can drive it
    * under a DPP-disabled session as the control.
    */
  def dppScanOf(fact: DataFrame, dayDim: DataFrame): DataFrame =
    fact.join(broadcast(dayDim.where(col("wk") === 0)).drop("wk"),
        Seq("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))

  /** S2 done right: scan the root and filter on the partition column —
    * Catalyst partition pruning reads only the matching directory, and the
    * column stays queryable. Both columnar formats also push the data
    * predicates into the reader (LakeSpec and LakeOrcSpec pin
    * PartitionFilters + PushedFilters on the scan).
    *
    * "json" and "csv" are ROW-format interop edges (beyond reference), for
    * exchange with systems that can't read columnar files, NOT a
    * performance path: a row format has no column statistics, so the
    * reader parses every row and data predicates filter AFTER the decode
    * (no PushedFilters). What DOES survive is directory-level partition
    * pruning — the partition column lives in the path, so a pruned read
    * never opens the other partitions' files, at any scale. Their `schema`
    * is required: inference would scan the data once just to guess, and
    * guess non-deterministically across drops.
    */
  def readPartition(spark: SparkSession, root: String,
      partitionCol: String, value: String, format: String = "parquet",
      schema: Option[StructType] = None): DataFrame = {
    require(schema.nonEmpty || !Set("json", "csv")(format),
      s"a $format read needs an explicit schema")
    schema.fold(spark.read)(spark.read.schema).format(format)
      .options(formatOptions(format)).load(root)
      .where(col(partitionCol) === value)
  }

  private def formatOptions(format: String): Map[String, String] =
    if (format == "csv") Map("header" -> "true") else Map.empty

  /** The reference's path-construction form (kept for parity/tests). */
  def readPartitionByPath(spark: SparkSession, root: String,
      partitionCol: String, value: String): DataFrame =
    spark.read.parquet(s"$root/$partitionCol=$value")
}
