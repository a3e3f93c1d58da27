package graft.plans

import java.sql.Timestamp
import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

/** The SQL functions and optimizer rules [[GraftExtensions]] registers on
  * every session built through `GraftSession.configure`.
  */
class GraftExtensionsSpec extends SparkTestBase {

  test("graft_cosine is callable from SQL text") {
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c")
      .collect().head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("graft_jaccard is callable from SQL text; null arrays score NULL") {
    val r = spark.sql(
      "SELECT graft_jaccard(array('a','b'), array('b','c')) AS j")
      .collect().head.getDouble(0)
    assert(math.abs(r - 1.0 / 3.0) < 1e-12)
    // modern size semantics are baked in: null input → NULL score, even
    // though the session default is legacy sizeOfNull
    assert(spark.sql(
      "SELECT graft_jaccard(CAST(NULL AS ARRAY<STRING>), array('a')) AS j")
      .collect().head.isNullAt(0))
    // wrong arity surfaces as AnalysisException, like every built-in
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_jaccard(array('a'))").collect()
    }
    assert(e.getMessage.contains("graft_jaccard"))
  }

  test("SQL theta join on graft_jaccard is planned by SimilarityJoinRewrite") {
    val s = spark
    import s.implicits._
    Seq((1L, Seq("x", "y", "z")), (2L, Seq("x", "y")))
      .toDF("id", "arr").createOrReplaceTempView("sim_l")
    Seq((10L, Seq("x", "y", "q")), (11L, Seq("q", "r")))
      .toDF("id", "arr").createOrReplaceTempView("sim_r")
    val df = spark.sql(
      """SELECT a.id AS ida, b.id AS idb FROM sim_l a JOIN sim_r b
        |ON graft_jaccard(a.arr, b.arr) >= 0.5""".stripMargin)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_sim_elem"), s"rewrite did not fire:\n$plan")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 10L), (2L, 10L))) // 2/4 = 0.5 and 2/3
  }

  // ---- the join rewrites fire on plan shape alone: a plain theta join on
  // the default session, no conf set, plans without a nested loop and
  // returns the rows of its control with the rule excluded ----

  /** Asserts `q` plans without a nested loop and equals, as a multiset,
    * its control planned with `rule` excluded.
    */
  private def firesByDefault(rule: Rule[LogicalPlan])(q: => DataFrame): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toString).toSeq.sorted
    val df = q
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"${rule.ruleName} did not fire on the default session:\n$plan")
    val got = rows(df)
    val control = withRule(rule, on = false) {
      val c = q
      val cplan = c.queryExecution.executedPlan.toString
      assert(cplan.contains("BroadcastNestedLoopJoin") || cplan.contains("CartesianProduct"),
        s"control plan unexpectedly had no nested loop:\n$cplan")
      rows(c)
    }
    assert(got.nonEmpty)
    assert(got === control)
  }

  test("a Hamming theta join plans without a nested loop on the default session") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, 0x12345678), (2L, 0x12345679), (3L, 0x0F0F0F0F)).toDF("id_a", "h_a")
    val r = Seq((101L, 0x12345678), (102L, 0x12305678), (103L, 0x0F0F0F00))
      .toDF("id_b", "h_b")
    firesByDefault(HammingJoinRewrite) {
      l.join(r, bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= 3)
    }
  }

  test("an interval theta join plans without a nested loop on the default session") {
    val s = spark
    import s.implicits._
    def ts(day: Int, hour: Int) = Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    val p = (1 to 5).flatMap(d => Seq(0, 12).map(h => (d * 100L + h, ts(d, h))))
      .toDF("event_id", "t")
    val w = Seq((1L, ts(1, 6), ts(2, 6)), (2L, ts(3, 12), ts(5, 0))).toDF("win_id", "lo", "hi")
    firesByDefault(RangeJoinRewrite) {
      p.join(w, col("t") >= col("lo") && col("t") < col("hi"))
    }
  }

  test("a graft_jaccard theta join plans without a nested loop on the default session") {
    val s = spark
    import s.implicits._
    val l = Seq((1L, Seq("x", "y", "z")), (2L, Seq("x", "y")), (3L, Seq("q")))
      .toDF("id_a", "a")
    val r = Seq((10L, Seq("x", "y", "q")), (11L, Seq("q", "r"))).toDF("id_b", "b")
    firesByDefault(SimilarityJoinRewrite) {
      l.join(r, expr("graft_jaccard(a, b) >= 0.5"))
    }
  }
}
