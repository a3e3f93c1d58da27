package graft.plans

import graft.SparkTestBase
import graft.functions.Text
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilarityJoinRewriteSpec extends SparkTestBase {

  // edge-case fixture: exact dup, partial overlap, empty array, null array,
  // null-element-only overlap, and a DUPLICATE ROW (the rewrite must pair
  // per row instance, like the nested loop — an aggregate-dedup would not)
  private def leftRows = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Seq("x", "y", "z")),
      (2L, Seq("x", "y")),
      (2L, Seq("x", "y")), // duplicate row instance
      (3L, Seq.empty[String]),
      (4L, Seq("q")),
      (5L, null.asInstanceOf[Seq[String]]),
      (6L, Seq(null.asInstanceOf[String])),
      (7L, Seq("x", "x", "y")) // duplicate ELEMENTS (set semantics)
    ).toDF("id_a", "arr_a")
  }

  private def rightRows = {
    val s = spark
    import s.implicits._
    Seq(
      (101L, Seq("x", "y", "z")),
      (102L, Seq("y", "x")),
      (103L, Seq.empty[String]),
      (104L, Seq("q", "r")),
      (105L, null.asInstanceOf[Seq[String]]),
      (106L, Seq(null.asInstanceOf[String])), // null-only intersection w/ 6
      (107L, Seq("z", "w"))
    ).toDF("id_b", "arr_b")
  }

  private def simJoin(l: DataFrame, r: DataFrame, t: Double): DataFrame =
    l.join(r, Text.jaccardSim(col("arr_a"), col("arr_b")) >= t)
      .select(col("id_a"), col("id_b"))

  private def withRule[A](on: Boolean)(f: => A): A = withRule(SimilarityJoinRewrite, on)(f)

  /** The Jaccard composition under the session's LEGACY size-of-null
    * default (`size(NULL) = -1`), built inline: `Text.jaccardSim` bakes in
    * modern semantics, and these cases test the rule's legacy check.
    */
  private def legacySimJoin(l: DataFrame, r: DataFrame, t: Double): DataFrame =
    l.join(r, size(array_intersect(col("arr_a"), col("arr_b"))).cast("double") /
        size(array_union(col("arr_a"), col("arr_b"))) >= t)
      .select(col("id_a"), col("id_b"))

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("rewritten similarity join returns exactly the nested-loop rows (multiset)") {
    val expected = withRule(on = false)(rows(simJoin(leftRows, rightRows, 0.5)))
    val got = withRule(on = true)(rows(simJoin(leftRows, rightRows, 0.5)))
    assert(expected.nonEmpty)
    // the duplicate (2L, ...) row must appear TWICE against each match
    assert(expected.count(_ == (2L, 102L)) === 2)
    // null-element-only overlap must survive the rewrite (null-safe key)
    assert(expected.contains((6L, 106L)))
    // a null array scores NULL, so it pairs with nothing
    assert(!expected.exists(p => p._1 == 5L || p._2 == 105L))
    assert(got === expected)
  }

  test("rewrite replaces the nested-loop join with an equality join") {
    withRule(on = true) {
      val plan = simJoin(leftRows, rightRows, 0.5)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"rewrite did not fire:\n$plan")
      assert(!plan.contains("CartesianProduct"))
      assert(plan.contains("__graft_sim_elem"))
    }
    withRule(on = false) {
      val plan = simJoin(leftRows, rightRows, 0.5)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("CartesianProduct"),
        s"control plan unexpectedly had no nested loop:\n$plan")
    }
  }

  test("threshold 0 with >= is not rewritten (disjoint pairs qualify)") {
    withRule(on = true) {
      val plan = simJoin(leftRows, rightRows, 0.0)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("__graft_sim_elem"),
        s"rule fired on an unsound >= 0 threshold:\n$plan")
    }
  }

  test("strict > 0 IS rewritten and matches the nested loop") {
    def q(l: DataFrame, r: DataFrame) =
      l.join(r, Text.jaccardSim(col("arr_a"), col("arr_b")) > 0.0)
        .select(col("id_a"), col("id_b"))
    val expected = withRule(on = false)(rows(q(leftRows, rightRows)))
    withRule(on = true) {
      val df = q(leftRows, rightRows)
      assert(df.queryExecution.executedPlan.toString.contains("__graft_sim_elem"))
      assert(rows(df) === expected)
    }
  }

  test("legacy sizeOfNull + nullable arrays is NOT rewritten (null scores 1.0 vs all)") {
    assert(spark.conf.get("spark.sql.legacy.sizeOfNull") === "true",
      "engine default changed — revisit the soundness gate")
    val df = legacySimJoin(leftRows, rightRows, 0.5)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("__graft_sim_elem"),
      s"rule fired under legacy size(NULL) semantics on nullable arrays:\n$plan")
    // and the legacy nested loop indeed pairs the null array with all rows
    assert(rows(df).contains((5L, 103L)))
  }

  test("legacy sizeOfNull with NON-nullable arrays still rewrites") {
    val l = leftRows.select(col("id_a"), array(lit("x"), lit("y")).as("arr_a"))
    val r = rightRows.select(col("id_b"), array(lit("y"), lit("x")).as("arr_b"))
    val df = legacySimJoin(l, r, 0.5)
    assert(df.queryExecution.executedPlan.toString.contains("__graft_sim_elem"))
    assert(rows(df).size === leftRows.count() * rightRows.count())
  }

  test("ANSI-typed division is not rewritten (0/0 on empty arrays must keep raising)") {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      // built under ANSI: the Divide carries EvalMode.ANSI, where the
      // nested loop raises DIVIDE_BY_ZERO for an empty-vs-empty pair that
      // the rewrite would silently skip
      val df = simJoin(leftRows, rightRows, 0.5)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("__graft_sim_elem"),
        s"rule fired on an ANSI division:\n$plan")
    } finally spark.conf.set("spark.sql.ansi.enabled", "false")
  }

  test("joins with an equality conjunct are left for the hash join planner") {
    val l = leftRows.withColumn("k", col("id_a") % 2)
    val r = rightRows.withColumn("k", col("id_b") % 2)
    withRule(on = true) {
      val df = l.join(r, l("k") === r("k") &&
        Text.jaccardSim(col("arr_a"), col("arr_b")) >= 0.5)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("__graft_sim_elem"), s"rule fired on an equi join:\n$plan")
    }
  }

  test("non-inner joins are not rewritten (explode would duplicate outer rows)") {
    withRule(on = true) {
      val df = leftRows.join(rightRows,
        Text.jaccardSim(col("arr_a"), col("arr_b")) >= 0.5, "left_outer")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("__graft_sim_elem"), s"rule fired on an outer join:\n$plan")
    }
  }

  test("extra conjuncts re-apply above the rewritten join (self-join form)") {
    val l = leftRows.select(col("id_a").as("doc1"), col("arr_a").as("s1"))
    val r = leftRows.select(col("id_a").as("doc2"), col("arr_a").as("s2"))
    def q() = l.join(r, col("doc1") < col("doc2") &&
        Text.jaccardSim(col("s1"), col("s2")) >= 0.9)
      .select(col("doc1"), col("doc2"))
    val expected = withRule(on = false)(rows(q()))
    val got = withRule(on = true) {
      val df = q()
      assert(df.queryExecution.executedPlan.toString.contains("__graft_sim_elem"))
      rows(df)
    }
    // 2 and 7 are set-equal ({x,y}): jaccard 1.0, once per duplicate row 2
    assert(expected === Seq((2L, 7L), (2L, 7L)))
    assert(got === expected)
  }
}
