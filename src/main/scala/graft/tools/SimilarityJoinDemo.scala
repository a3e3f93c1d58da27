package graft.tools

import graft.core.GraftSession
import graft.operators.Dedup

/** Measures SimilarityJoinRewrite against its own naive control (dev
  * tool): the exact-Jaccard theta self-join over a BOUNDED document
  * window, once with the rule off (BroadcastNestedLoopJoin — O(n²)
  * Jaccard evaluations, which is why the window exists) and once with it
  * on (prefix-filtered bucketed equality join). Rounds 8-12 gated this
  * comparison as q75 itself; the gated query now runs the rewritten plan
  * over the full corpus and the demo lives here (r12 verdict item 2),
  * exactly like [[RangeJoinDemo]] for the range-join rule.
  *
  *   sbt "runMain graft.tools.SimilarityJoinDemo sf0.01 [maxDocId] [--no-control]"
  */
object SimilarityJoinDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = s"/root/testdata/${args.headOption.getOrElse("sf0.01")}"
    val bound = args.drop(1).find(!_.startsWith("--")).map(_.toLong).getOrElse(1000L)
    val spark = GraftSession.local(32)
    spark.sparkContext.setLogLevel("WARN")
    def run(label: String, ruleOn: Boolean): Long = {
      val t0 = System.nanoTime()
      // both legs run q75's own query; the control only flips the rule
      // off, on a derived session (not newSession: a new session would
      // put its codegen recompiles inside the timed leg)
      val s = GraftSession.derived(spark, Dedup.SimilarityJoinRewriteConfs +
        ("spark.graft.similarityJoinRewrite" -> ruleOn.toString))
      val df = Dedup.jaccardPairsRewriteOn(s, sfDir, 0.8, Some(bound))
      val n = df.count()
      val plan = df.queryExecution.executedPlan.toString
      val shape = if (plan.contains("BroadcastNestedLoopJoin")) "BNLJ"
        else if (plan.contains("CartesianProduct")) "cartesian"
        else "bucketed-equality"
      println(f"[simjoin] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s ($shape, $n pairs)")
      n
    }
    val skipControl = args.contains("--no-control")
    val b = run(s"rule ON  (prefix-filtered, doc_id<$bound)", ruleOn = true)
    if (!skipControl) {
      val a = run(s"rule OFF (nested loop,      doc_id<$bound)", ruleOn = false)
      require(a == b, s"pair counts diverged: naive $a vs rewritten $b")
      println(s"[simjoin] identical results: $b pairs")
    }
    spark.stop()
  }
}
