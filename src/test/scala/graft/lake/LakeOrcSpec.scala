package graft.lake

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._

/** The ORC side of the lake: same partition layout, pruning, pushdown,
  * and exactly-once streaming contracts LakeSpec pins for parquet.
  */
class LakeOrcSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft_orc")

  test("partitioned ORC write + pruned read with predicate pushdown") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_orc").toString
    val df = Seq(
      ("u1", 5L, "2024-01-01"), ("u2", 9L, "2024-01-01"),
      ("u3", 2L, "2024-01-02"))
      .toDF("user_id", "n_events", "extracted_date")
    Lake.writePartitioned(df, dir, format = "orc")

    val filtered = Lake
      .readPartition(spark, dir, "extracted_date", "2024-01-01", "orc")
      .where(col("n_events") > 6L)
    assert(filtered.count() === 1)
    assert(filtered.columns.contains("extracted_date"))
    val scan = filtered.queryExecution.executedPlan.toString
    // partition pruning on the directory column
    assert(scan.contains("PartitionFilters") && scan.contains("extracted_date"),
      s"expected partition filter in ORC plan:\n$scan")
    // data predicate reaches the ORC reader
    assert(scan.contains("PushedFilters") && scan.contains("n_events"),
      s"expected pushed filter in ORC plan:\n$scan")
    // round-trip fidelity
    assert(filtered.select("user_id").collect().map(_.getString(0)).toSeq
      === Seq("u2"))
  }

  test("streaming ORC file sink lands partitioned rows exactly once") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val out = tempDir("graft_orc_sink").toString
    val ckpt = tempDir("graft_orc_ckpt").toString
    val q = Lake.streamingSink(
      input.toDF().toDF("user_id", "extracted_date"), out, ckpt,
      format = "orc").start()
    try {
      input.addData(("u1", "2024-01-01"), ("u2", "2024-01-02"))
      q.processAllAvailable()
      input.addData(("u3", "2024-01-01"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.orc(out)
    assert(back.count() === 3)
    assert(back.where(col("extracted_date") === "2024-01-01").count() === 2)
    // restart from the same checkpoint: no duplicates (file-sink log)
    val q2 = Lake.streamingSink(
      input.toDF().toDF("user_id", "extracted_date"), out, ckpt,
      format = "orc").start()
    try {
      input.addData(("u4", "2024-01-02"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(spark.read.orc(out).count() === 4)
    assert(spark.read.orc(out).select("user_id").collect()
      .map(_.getString(0)).toSet === Set("u1", "u2", "u3", "u4"))
  }
}
