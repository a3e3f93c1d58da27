package graft.plans

import java.sql.Timestamp
import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RangeJoinRewriteSpec extends SparkTestBase {

  private def ts(day: Int, hour: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")

  private def probes = {
    val s = spark
    import s.implicits._
    (1 to 20).flatMap(d => (0 until 24 by 3).map(h => (d.toLong * 100 + h, ts(d, h))))
      .toDF("event_id", "t")
  }

  private def windows = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, ts(1, 6), ts(2, 6)),    // 24h window
      (2L, ts(5, 0), ts(5, 0)),    // empty window (hi == lo)
      (3L, ts(10, 12), ts(12, 0)), // 36h window
      (4L, ts(19, 23), ts(20, 1))  // crosses a day boundary
    ).toDF("win_id", "lo", "hi")
  }

  private def rangeJoin(p: DataFrame, w: DataFrame): DataFrame =
    p.join(w, col("t") >= col("lo") && col("t") < col("hi"))
      .select(col("win_id"), col("event_id"))

  private def withRule[A](on: Boolean)(f: => A): A = withRule(RangeJoinRewrite, on)(f)

  test("rewritten interval join returns exactly the nested-loop results") {
    val expected = withRule(on = false) {
      rangeJoin(probes, windows).collect().map(_.toSeq).toSet
    }
    val got = withRule(on = true) {
      rangeJoin(probes, windows).collect().map(_.toSeq).toSet
    }
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("rewrite replaces the nested-loop join with an equality join") {
    withRule(on = true) {
      val plan = rangeJoin(probes, windows).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rewrite did not fire:\n$plan")
      assert(!plan.contains("CartesianProduct"))
    }
    withRule(on = false) {
      val plan = rangeJoin(probes, windows).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct"),
        s"control plan unexpectedly had no nested loop:\n$plan")
    }
  }

  test("joins with an equality conjunct are left for the hash join planner") {
    val s = spark
    import s.implicits._
    val p = probes.withColumn("k", col("event_id") % 3)
    val w = windows.withColumn("k", col("win_id") % 3)
    withRule(on = true) {
      val df = p.join(w, p("k") === w("k") && col("t") >= col("lo") && col("t") < col("hi"))
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("__graft_bucket"), s"rule fired on an equi join:\n$plan")
    }
  }

  test("timestamp_ntz ranges rewrite too (cast hops through timestamp)") {
    val p = probes.withColumn("t", col("t").cast("timestamp_ntz"))
    val w = windows.withColumn("lo", col("lo").cast("timestamp_ntz"))
      .withColumn("hi", col("hi").cast("timestamp_ntz"))
    val expected = withRule(on = false)(rangeJoin(p, w).collect().map(_.toSeq).toSet)
    val got = withRule(on = true)(rangeJoin(p, w).collect().map(_.toSeq).toSet)
    assert(got === expected)
    withRule(on = true) {
      val plan = rangeJoin(p, w).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"NTZ rewrite did not fire:\n$plan")
    }
  }

  test("left outer / semi / anti interval joins rewrite with identical results") {
    def q(joinType: String) =
      probes.join(windows, col("t") >= col("lo") && col("t") < col("hi"), joinType)
    Seq("left_outer", "left_semi", "left_anti").foreach { jt =>
      val expected = withRule(on = false)(q(jt).collect().map(_.toSeq).toSet)
      val got = withRule(on = true)(q(jt).collect().map(_.toSeq).toSet)
      assert(got === expected, s"$jt results diverged")
      withRule(on = true) {
        val plan = q(jt).queryExecution.executedPlan.toString
        assert(plan.contains("__graft_bucket"), s"$jt rewrite did not fire:\n$plan")
      }
    }
    // left outer must keep unmatched probes exactly once (null-extended)
    val lo = withRule(on = true)(q("left_outer").collect())
    assert(lo.count(_.isNullAt(2)) ===
      withRule(on = false)(q("left_outer").collect()).count(_.isNullAt(2)))
  }

  test("right outer interval joins are NOT rewritten (explode would duplicate null rows)") {
    val q = probes.join(windows,
      col("t") >= col("lo") && col("t") < col("hi"), "right_outer")
    withRule(on = true) {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("__graft_bucket"), s"unsound right-outer rewrite fired:\n$plan")
    }
    val expected = withRule(on = false)(q.collect().map(_.toSeq).toSet)
    val got = withRule(on = true)(q.collect().map(_.toSeq).toSet)
    assert(got === expected)
  }

  test("intervals wider than maxBucketsPerInterval fail fast with an actionable error") {
    val s = spark
    import s.implicits._
    val p = (1L to 10L).map(i => (i, i)).toDF("id", "x")
    // huge span: 200000 one-day buckets, twice the per-interval cap
    val w = Seq((1L, 0L, 86400L * 200000L)).toDF("wid", "lo", "hi")
    val e = intercept[Exception] {
      p.join(w, col("x") >= col("lo") && col("x") <= col("hi")).collect()
    }
    assert(e.getMessage.contains("RangeJoinRewrite") ||
      Option(e.getCause).exists(_.getMessage.contains("RangeJoinRewrite")),
      s"unexpected error: ${e.getMessage}")
  }

  test("bucket-span guard survives long-wrapping sentinel bounds") {
    val s = spark
    import s.implicits._
    val p = (1L to 10L).map(i => (i, i)).toDF("id", "x")
    // hi - lo wraps negative in 64-bit arithmetic; the double-based span
    // check must still raise the ACTIONABLE error, not fall through to
    // Sequence's own too-long-sequence failure
    val w = Seq((1L, Long.MinValue / 2, Long.MaxValue / 2)).toDF("wid", "lo", "hi")
    val e = intercept[Exception] {
      p.join(w, col("x") >= col("lo") && col("x") <= col("hi")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("RangeJoinRewrite")),
      s"guard did not fire with the actionable message: $e")
  }

  test("integral-typed ranges rewrite too") {
    val s = spark
    import s.implicits._
    val p = (1L to 1000L).map(i => (i, i * 10)).toDF("id", "x")
    val w = Seq((1L, 100L, 250L), (2L, 9_000L, 9_100L), (3L, 400L, 399L))
      .toDF("wid", "lo", "hi")
    val q = p.join(w, col("x") >= col("lo") && col("x") <= col("hi"))
      .select(col("wid"), col("id"))
    val expected = withRule(on = false)(q.collect().map(_.toSeq).toSet)
    val got = withRule(on = true)(q.collect().map(_.toSeq).toSet)
    assert(got === expected)
    assert(expected.exists(_.head == 1L) && expected.exists(_.head == 2L))
    assert(!expected.exists(_.head == 3L)) // empty interval yields nothing
  }

  test("q65 (oracle-gated entry) plans the bucketed join and matches the manual q43 form") {
    val sf = "/root/testdata/sf0.001"
    val df = graft.operators.TemporalJoins.shipmentsNearOrderRewritten(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_bucket"), s"rewrite did not fire for q65:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    val manual = graft.operators.TemporalJoins.shipmentsNearOrder(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet === manual)
  }
}
