package graft.lake

import graft.{ScanMeter, SparkTestBase}
import org.apache.spark.sql.functions._

/** q384 end-to-end: dynamic partition pruning must actually fire — the
  * executed plan carries a `dynamicpruning` expression in the fact
  * scan's PartitionFilters, and the fact scan surfaces only the Monday
  * partitions' rows. The control is the SAME query under a session with
  * DPP disabled: no runtime filter exists there, so the scan reads every
  * partition.
  */
class DppSpec extends SparkTestBase with ScanMeter {

  private val sf = "/root/testdata/sf0.001"

  test("q384: dynamic partition pruning fires; disabled control reads all days") {
    val df = Lake.dppScan(spark, sf)
    val (rows, read) = runAndMeter(df)

    // content: exactly the Monday rollup, straight off the raw table
    val expected = graft.core.Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .where(pmod(datediff(col("day"), lit("2024-01-01").cast("date")),
        lit(7)) === 0)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .collect().map(_.toSeq).toSet
    assert(rows === expected)
    assert(rows.size === 5, "Jan 2024 has five Mondays")

    // the runtime filter is IN the executed plan's partition filters
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in:\n$plan")

    // I/O: fact scan surfaces only Monday partitions plus the dim scan
    // (the single-file dim can't prune its wk filter — allow its actual
    // row count, not a hardcoded literal). The dim is budgeted TWICE: it
    // feeds both the broadcast join and the dynamicpruning subquery, and
    // whether those two scans collapse to one is an exchange-reuse
    // detail conf drift could change — the contract here is that the
    // FACT side is pruned, not that the metadata-sized dim dedupes.
    val (factPath, dimPath) = Lake.dppTables(spark, sf)
    val dimRows = spark.read.parquet(dimPath).count()
    val total = graft.core.Tables.events(spark, sf).count()
    val mondays = graft.core.Tables.events(spark, sf)
      .where(pmod(datediff(to_date(col("ts")),
        lit("2024-01-01").cast("date")), lit(7)) === 0).count()
    assert(read <= mondays + 2 * dimRows,
      s"DPP scan should read ~$mondays Monday rows (+<=2x$dimRows dim), read $read")

    // control: same tables, same query, DPP off -> all partitions read
    val off = spark.newSession()
    off.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
      "false")
    val (controlRows, controlRead) = runAndMeter(Lake.dppScanOf(
      off.read.parquet(factPath), off.read.parquet(dimPath)))
    assert(controlRows === expected, "DPP must not change content")
    assert(controlRead >= total,
      s"without DPP every partition is read: expected >= $total, got $controlRead")
    info(s"dpp read $read / $total rows; control read $controlRead")
  }
}
