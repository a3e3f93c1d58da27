package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, Text}

/** Engine extensions, registered via
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or conf
  * `spark.sql.extensions=graft.plans.GraftExtensions`:
  *
  *  1. SQL function `graft_cosine(a, b)` — the codegen'd cosine expression
  *     usable from SQL text, not just the Column API.
  *  2. SQL function `graft_jaccard(a, b)` — the `Text.jaccardSim`
  *     composition usable from SQL text.
  *  3. [[RangeJoinRewrite]] — optimizer rule that turns pure interval
  *     inner joins into bucketed equality joins + exact filter, replacing
  *     the O(n·m) BroadcastNestedLoopJoin Catalyst would otherwise plan.
  *  4. [[SimilarityJoinRewrite]] — optimizer rule that turns an inner
  *     theta join on a set-Jaccard threshold (the `Text.jaccardSim`
  *     composition) into an exploded-element equality join + meet-once
  *     filter + exact re-check (exact, not LSH).
  *  5. [[HammingJoinRewrite]] — optimizer rule that turns an inner theta
  *     join on `bit_count(a ^ b) <= d` into the pigeonhole chunk
  *     equality join + meet-once filter + exact re-check — the q27
  *     simhash candidate join, found by the planner.
  *
  * The three rules preserve semantics, so, like Catalyst's own rules, they
  * fire wherever their pattern matches; no conf turns them on or off.
  * Tests that need the nested-loop control exclude one through
  * `spark.sql.optimizer.excludedRules` and its `ruleName`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.cosineFunction)
    e.injectFunction(GraftExtensions.jaccardFunction)
    e.injectOptimizerRule(_ => RangeJoinRewrite)
    e.injectOptimizerRule(_ => SimilarityJoinRewrite)
    e.injectOptimizerRule(_ => HammingJoinRewrite)
  }
}

object GraftExtensions {
  val cosineFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
    (children: Seq[Expression]) => CosineSimilarity(children(0), children(1)))

  /** SQL-text set-Jaccard: `graft_jaccard(a, b)` expands to
    * [[graft.functions.Text.jaccard]], the exact size(intersect)/size(union)
    * composition [[SimilarityJoinRewrite]] pattern-matches — so
    * `A JOIN B ON graft_jaccard(a, b) >= t` in SQL plans as the bucketed
    * equality join, with the same modern size-of-null semantics as
    * `Text.jaccardSim`.
    */
  val jaccardFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_jaccard"),
    new ExpressionInfo(classOf[org.apache.spark.sql.catalyst.expressions.Divide].getName,
      "graft_jaccard"),
    (children: Seq[Expression]) => {
      // arity errors must surface as AnalysisException (the contract every
      // built-in honors and query tooling catches), not a raw
      // IllegalArgumentException from require
      if (children.size != 2) throw new org.apache.spark.sql.AnalysisException(
        "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        Map("functionName" -> "`graft_jaccard`", "expectedNum" -> "2",
          "actualNum" -> children.size.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
      Text.jaccard(children(0), children(1))
    })
}
