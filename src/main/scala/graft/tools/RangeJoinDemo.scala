package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}

/** Measures RangeJoinRewrite on a real interval join (dev tool):
  * lineitem.l_shipdate within [o_orderdate, o_orderdate + 1 day) — the q43
  * semantics WITHOUT the manual bucketing, so the join is a pure range
  * predicate and the optimizer rule is what decides the plan.
  *
  *   sbt "runMain graft.tools.RangeJoinDemo sf0.01"
  */
object RangeJoinDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = s"/root/testdata/${args.headOption.getOrElse("sf0.01")}"
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    def query(s: SparkSession) = {
      val li = Tables.lineitem(s, sfDir).select(col("l_orderkey"), col("l_shipdate"))
      // keep `hi` the same timestamp flavor (NTZ) as l_shipdate: the rule
      // conservatively requires type-aligned bounds — a mixed tz/ntz pair
      // would make Spark cast one side and cross-zone bucketing is unsound
      val o = Tables.orders(s, sfDir)
        .select(col("o_orderkey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 1 DAY")).as("hi"))
      li.join(o, col("l_shipdate") >= col("o_orderdate") && col("l_shipdate") < col("hi"))
        .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
    }
    def run(label: String, ruleOn: Boolean): Long = {
      val t0 = System.nanoTime()
      val df = query(GraftSession.derived(spark,
        Map("spark.graft.rangeJoinRewrite" -> ruleOn.toString)))
      // count() of the aggregated result still executes the join fully
      // (the aggregate blocks pruning) and doubles as the row check —
      // one execution, not noop-write + count
      val n = df.count()
      val plan = df.queryExecution.executedPlan.toString
      val shape = if (plan.contains("BroadcastNestedLoopJoin")) "BNLJ"
        else if (plan.contains("__graft_bucket")) "bucketed-equality"
        else "other"
      println(f"[rangejoin] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s ($shape)")
      n
    }
    val skipControl = args.contains("--no-control") // BNLJ is O(n·m): unrunnable at sf0.1
    if (!skipControl) {
      val a = run("rule OFF (nested loop)", ruleOn = false)
      val b = run("rule ON  (bucketed)", ruleOn = true)
      require(a == b, s"row counts diverged: $a vs $b")
      println(s"[rangejoin] identical results: $a rows")
    } else {
      val b = run("rule ON  (bucketed)", ruleOn = true)
      println(s"[rangejoin] rows: $b")
    }
    spark.stop()
  }
}
