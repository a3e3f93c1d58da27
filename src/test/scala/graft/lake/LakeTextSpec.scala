package graft.lake

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The row-format interop edges of the lake (JSON-lines / CSV): partition
  * pruning survives (it's directory-level), data predicates do NOT push
  * into the decoder (row formats have no column stats — the honest
  * contract the Lake scaladoc states), schemas are explicit, and the
  * streaming file-sink log still gives exactly-once.
  */
class LakeTextSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft_csv", "graft_json")

  private val schema = StructType(Seq(
    StructField("user_id", StringType),
    StructField("n_events", LongType),
    StructField("extracted_date", StringType)))

  test("partitioned JSON write + pruned read; predicate filters post-decode") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_json").toString
    val df = Seq(
      ("u1", 5L, "2024-01-01"), ("u2", 9L, "2024-01-01"),
      ("u3", 2L, "2024-01-02"))
      .toDF("user_id", "n_events", "extracted_date")
    Lake.writePartitioned(df, dir, format = "json")

    val filtered = Lake
      .readPartition(spark, dir, "extracted_date", "2024-01-01", "json",
        Some(schema))
      .where(col("n_events") > 6L)
    assert(filtered.count() === 1)
    val scan = filtered.queryExecution.executedPlan.toString
    // directory-level pruning works for any format
    assert(scan.contains("PartitionFilters") && scan.contains("extracted_date"),
      s"expected partition filter in JSON plan:\n$scan")
    assert(filtered.select("user_id").collect().map(_.getString(0)).toSeq
      === Seq("u2"))
    // the pruned read really skips the other partition's files
    val pruned = Lake
      .readPartition(spark, dir, "extracted_date", "2024-01-02", "json",
        Some(schema))
    assert(pruned.select("user_id").collect().map(_.getString(0)).toSeq
      === Seq("u3"))
  }

  test("partitioned CSV write + pruned read round-trips types via explicit schema") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_csv").toString
    val df = Seq(
      ("u1", 5L, "2024-01-01"), ("u2", 9L, "2024-01-01"),
      ("u3", 2L, "2024-01-02"))
      .toDF("user_id", "n_events", "extracted_date")
    Lake.writePartitioned(df, dir, format = "csv")

    val back = Lake
      .readPartition(spark, dir, "extracted_date", "2024-01-01", "csv",
        Some(schema))
    assert(back.schema("n_events").dataType === LongType)
    assert(back.count() === 2)
    assert(back.where(col("n_events") > 6L).select("user_id")
      .collect().map(_.getString(0)).toSeq === Seq("u2"))
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("extracted_date"),
      s"expected partition filter in CSV plan:\n$scan")
  }

  test("streaming JSON file sink lands partitioned rows exactly once") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val out = tempDir("graft_json_sink").toString
    val ckpt = tempDir("graft_json_ckpt").toString
    val jsonSchema = StructType(Seq(
      StructField("user_id", StringType),
      StructField("extracted_date", StringType)))
    val q = Lake.streamingSink(
      input.toDF().toDF("user_id", "extracted_date"), out, ckpt,
      format = "json").start()
    try {
      input.addData(("u1", "2024-01-01"), ("u2", "2024-01-02"))
      q.processAllAvailable()
      input.addData(("u3", "2024-01-01"))
      q.processAllAvailable()
    } finally q.stop()
    def readBack() = spark.read.schema(jsonSchema).json(out)
    assert(readBack().count() === 3)
    assert(readBack().where(col("extracted_date") === "2024-01-01").count() === 2)
    // restart from the same checkpoint: the file-sink log dedups
    val q2 = Lake.streamingSink(
      input.toDF().toDF("user_id", "extracted_date"), out, ckpt,
      format = "json").start()
    try {
      input.addData(("u4", "2024-01-02"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(readBack().count() === 4)
    assert(readBack().select("user_id").collect()
      .map(_.getString(0)).toSet === Set("u1", "u2", "u3", "u4"))
  }
}
