package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, TempDirs}

/** Stream-maintained activity bitmaps ≡ batch recompute, and — the
  * property that distinguishes the OR-merge from the q333 sum-merge —
  * IDEMPOTENCE under replayed delivery: re-sending an entire micro-batch
  * must leave the store byte-identical. Also exercises the multi-word
  * path (spans past 63 days) the q346 single-word operator fails loudly
  * on, and round-trips the store back to the user-day grain.
  */
class BitmapMaintainSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-bm")

  private def store(path: String) =
    spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("OR-maintained store: exactly-once result under duplicated delivery") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val path = tempDir("graft-bm")
      .resolve("bits").toString
    // user 1 spans two words (day 0 and day 70); user 2 repeats a day
    val b1 = Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 09:00:00"))
    val b2 = Seq((1L, "2024-03-11 08:00:00"), (2L, "2024-01-02 23:00:00"))
    val input = MemoryStream[(Long, String)]
    def ev(df: org.apache.spark.sql.DataFrame) = df
      .select(col("_1").as("user_id"), col("_2").cast("timestamp").as("ts"))
    val q = ev(input.toDF()).writeStream
      .foreachBatch(BitmapMaintain.maintainParquet(path) _)
      .outputMode("append").start()
    try {
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val afterTwo = store(path)
      // replay: the SAME data again — an additive merge would double-count
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      assert(store(path) === afterTwo, "OR-merge must be idempotent")
      // batch recompute equality
      val batch = BitmapMaintain.dayBitsOf(ev((b1 ++ b2).toDF("_1", "_2")))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(afterTwo === batch)
      // day 70 = word 1, bit 7; day 0 = word 0, bit 0; day 1 twice -> once
      assert(afterTwo === Map((1L, 0L) -> 1L, (1L, 1L) -> (1L << 7),
        (2L, 0L) -> 2L))
    } finally q.stop()
  }

  test("store round-trips to the exact distinct user-day grain") {
    val s = spark
    import s.implicits._
    val ev = Seq((1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 23:00:00"),
      (1L, "2024-03-11 08:00:00"), (2L, "2024-02-29 12:00:00"))
      .toDF("user_id", "ts")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
    val got = BitmapMaintain.daysOf(BitmapMaintain.dayBitsOf(ev))
      .collect().map(r => (r.getLong(0), r.getDate(1).toString)).toSet
    assert(got === Set((1L, "2024-01-01"), (1L, "2024-03-11"),
      (2L, "2024-02-29")))
  }

  test("round-tripped store feeds the q346 retention unchanged") {
    val s = spark
    import s.implicits._
    val ev = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"))
    val direct = graft.analytics.Funnels.bitmapRetentionOf(spark, ev)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val viaStore = graft.analytics.Funnels.bitmapRetentionOf(spark,
      BitmapMaintain.daysOf(BitmapMaintain.dayBitsOf(ev))
        .select(col("user_id"), col("day").cast("timestamp").as("ts")))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(viaStore === direct,
      "retention from the compacted index equals retention from raw events")
  }
}
