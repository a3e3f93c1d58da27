package graft.lake

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._

class LakeSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft_ckpt", "graft_lake", "graft_rec", "graft_sink")

  test("partitioned write + both read forms prune to one partition") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_lake").toString
    val df = Seq(
      ("u1", "2024-01-01"), ("u2", "2024-01-01"), ("u3", "2024-01-02"))
      .toDF("user_id", "extracted_date")
    Lake.writePartitioned(df, dir)

    val filtered = Lake.readPartition(spark, dir, "extracted_date", "2024-01-01")
    assert(filtered.count() === 2)
    // partition column survives the filter-style read
    assert(filtered.columns.contains("extracted_date"))
    // the predicate lands in the scan's PartitionFilters → pruned read
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("extracted_date"),
      s"expected partition filter in plan:\n$scan")

    val byPath = Lake.readPartitionByPath(spark, dir, "extracted_date", "2024-01-01")
    assert(byPath.count() === 2)
    // the reference's path form loses the partition column — documented
    assert(!byPath.columns.contains("extracted_date"))
  }

  test("streaming file sink lands partitioned parquet exactly once") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val out = tempDir("graft_sink").toString
    val ckpt = tempDir("graft_ckpt").toString
    val q = Lake.startStreamingSink(
      input.toDF().toDF("user_id", "extracted_date"), out, ckpt)
    try {
      input.addData(("u1", "2024-01-01"), ("u2", "2024-01-02"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() === 2)
    assert(back.columns.toSet === Set("user_id", "extracted_date"))
  }

  test("bucketed tables join without any shuffle exchange") {
    val s = spark
    import s.implicits._
    val left = (1 to 10000).map(i => (i.toLong % 500, s"l$i")).toDF("k", "lv")
    val right = (1 to 3000).map(i => (i.toLong % 500, s"r$i")).toDF("k", "rv")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
    try {
      Bucketing.writeBucketed(left, "graft_bl", "k", numBuckets = 4)
      Bucketing.writeBucketed(right, "graft_br", "k", numBuckets = 4)
      // matching bucket specs: no Exchange on either side
      val joined = spark.table("graft_bl").join(spark.table("graft_br"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected shuffle-free bucketed join, got:\n$plan")
      // correctness: equals the plain join
      assert(joined.count() === left.join(right, "k").count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_bl")
      spark.sql("DROP TABLE IF EXISTS graft_br")
    }
  }

  test("sink restart from checkpoint resumes without duplicating batches") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, String)]
    val out = tempDir("graft_rec").toString
    val ckpt = tempDir("graft_rec_ckpt").toString
    val df = input.toDF().toDF("user_id", "extracted_date")

    val q1 = Lake.startStreamingSink(df, out, ckpt)
    try { input.addData(("u1", "2024-01-01")); q1.processAllAvailable() }
    finally q1.stop()

    // restart against the SAME checkpoint: offsets/commit log replays,
    // already-committed batch must not land twice (ST9)
    val q2 = Lake.startStreamingSink(df, out, ckpt)
    try { input.addData(("u2", "2024-01-01")); q2.processAllAvailable() }
    finally q2.stop()

    val users = spark.read.parquet(out).select("user_id")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(users === Seq("u1", "u2"))
  }
}
