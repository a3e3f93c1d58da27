package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, TempDirs}

/** Stream-maintained gold rollup ≡ batch recompute (VERDICT r8 item 6):
  * the q333 merge law driven through foreachBatch over a MemoryStream —
  * out-of-order days across micro-batches, same day split across
  * batches, and a restart-shaped second query appending more data. The
  * final store must equal Relational-style single-pass recompute
  * value-for-value (exact integers, so "hash-exact" is set equality).
  */
class GoldMaintainSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-gold")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("day").cast("string"), col("cents"), col("n_orders"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

  test("foreachBatch-maintained rollup equals the batch recompute, exactly") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gold = tempDir("graft-gold")
      .resolve("rollup").toString
    val b1 = Seq(("1998-12-30 10:00:00", 10.004), ("1998-12-31 09:00:00", 20.0),
      ("1998-12-30 23:59:59", 5.555))
    val b2 = Seq(("1999-01-02 00:00:00", 7.07), ("1998-12-30 01:00:00", 1.0))
    val b3 = Seq(("1998-12-31 12:00:00", 0.009), ("1999-01-01 08:00:00", 100.10))
    val input = MemoryStream[(String, Double)]
    def orders(df: org.apache.spark.sql.DataFrame) = df
      .select(col("_1").cast("timestamp").as("o_orderdate"),
        col("_2").as("o_totalprice"))
    val q = orders(input.toDF()).writeStream
      .foreachBatch(GoldMaintain.maintainParquet(gold) _)
      .outputMode("append").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      input.addData(b3: _*); q.processAllAvailable()
    } finally q.stop()
    val expected = rows(GoldMaintain.dayGrainOf(
      orders((b1 ++ b2 ++ b3).toDF("_1", "_2"))))
    assert(rows(spark.read.parquet(gold)) === expected)
    // the store covers 4 days; 1998-12-30 accumulated across two batches
    assert(expected.size === 4)
    assert(expected.contains(("1998-12-30", 1656L, 3L))) // 1000+556+100 cents
  }

  test("restart resumes from the stored rollup, not from scratch") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gold = tempDir("graft-gold2")
      .resolve("rollup").toString
    def orders(df: org.apache.spark.sql.DataFrame) = df
      .select(col("_1").cast("timestamp").as("o_orderdate"),
        col("_2").as("o_totalprice"))
    val first = Seq(("2020-05-01 10:00:00", 3.0), ("2020-05-02 10:00:00", 4.0))
    val second = Seq(("2020-05-02 11:00:00", 5.0), ("2020-05-03 12:00:00", 6.0))
    val in1 = MemoryStream[(String, Double)]
    val q1 = orders(in1.toDF()).writeStream
      .foreachBatch(GoldMaintain.maintainParquet(gold) _)
      .outputMode("append").start()
    try { in1.addData(first: _*); q1.processAllAvailable() } finally q1.stop()
    // a brand-new query (fresh MemoryStream = fresh checkpoint): its batch
    // numbering restarts at 0, so per the MaintainedTable fence contract it
    // MUST carry a new appId — reusing the old one would make batch 0 look
    // like a replay of the first incarnation's batch 0 and be fenced out
    val in2 = MemoryStream[(String, Double)]
    val q2 = orders(in2.toDF()).writeStream
      .foreachBatch(GoldMaintain.maintainParquet(gold, appId = "gold-2") _)
      .outputMode("append").start()
    try { in2.addData(second: _*); q2.processAllAvailable() } finally q2.stop()
    val expected = rows(GoldMaintain.dayGrainOf(
      orders((first ++ second).toDF("_1", "_2"))))
    assert(rows(spark.read.parquet(gold)) === expected)
    assert(expected === Set(("2020-05-01", 300L, 1L),
      ("2020-05-02", 900L, 2L), ("2020-05-03", 600L, 1L)))
  }
}
