package graft.plans

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class HammingJoinRewriteSpec extends SparkTestBase {

  // 31-bit sketches (non-negative, so Spark's sign-extending bit_count
  // reports the plain popcount): an exact dup, 1/3/4-bit neighbors, a
  // null sketch, and a DUPLICATE ROW (the rewrite must pair per row
  // instance — the meet-once conjunct, not an aggregate, dedups copies)
  private def leftRows = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, java.lang.Integer.valueOf(0x12345678)),
      (2L, java.lang.Integer.valueOf(0x12345679)), // 1 bit from row 1
      (2L, java.lang.Integer.valueOf(0x12345679)), // duplicate row
      (3L, java.lang.Integer.valueOf(0x0F0F0F0F)),
      (4L, null.asInstanceOf[java.lang.Integer])
    ).toDF("id_a", "h_a")
  }

  private def rightRows = {
    val s = spark
    import s.implicits._
    Seq(
      (101L, java.lang.Integer.valueOf(0x12345678)), // dup of 1
      (102L, java.lang.Integer.valueOf(0x12305678)), // 2 bits from 1
      (103L, java.lang.Integer.valueOf(0x12345999)), // several bits from 1
      (104L, java.lang.Integer.valueOf(0x0F0F0F00)), // 4 bits from 3
      (105L, null.asInstanceOf[java.lang.Integer])
    ).toDF("id_b", "h_b")
  }

  private def hamJoin(l: DataFrame, r: DataFrame, d: Int): DataFrame =
    l.join(r, bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= d)
      .select(col("id_a"), col("id_b"))

  private def withRule[A](on: Boolean)(f: => A): A = withRule(HammingJoinRewrite, on)(f)

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("rewritten hamming join returns exactly the nested-loop rows (multiset)") {
    val control = withRule(on = false)(rows(hamJoin(leftRows, rightRows, 3)))
    val rewritten = withRule(on = true)(rows(hamJoin(leftRows, rightRows, 3)))
    assert(control.nonEmpty)
    assert(rewritten === control)
    // the duplicate left ROW pairs once per instance, like the nested loop
    assert(control.count(_ == (2L, 101L)) === 2)
    assert(rewritten.count(_ == (2L, 101L)) === 2)
  }

  test("rewrite replaces the nested-loop join with an equality join") {
    val plan = withRule(on = true)(
      hamJoin(leftRows, rightRows, 3).queryExecution.executedPlan.toString)
    assert(plan.contains("__graft_ham_idx"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("strict < bound is normalized and matches the nested loop") {
    val control = withRule(on = false)(
      rows(leftRows.join(rightRows,
        bit_count(col("h_a").bitwiseXOR(col("h_b"))) < 3)
        .select(col("id_a"), col("id_b"))))
    val rewritten = withRule(on = true)(
      rows(leftRows.join(rightRows,
        bit_count(col("h_a").bitwiseXOR(col("h_b"))) < 3)
        .select(col("id_a"), col("id_b"))))
    assert(rewritten === control)
  }

  test("joins with an equality conjunct are left for the hash join planner") {
    val plan = withRule(on = true)(
      leftRows.join(rightRows, col("id_a") === col("id_b")
        && bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= 3)
        .queryExecution.executedPlan.toString)
    assert(!plan.contains("__graft_ham_idx"), plan)
  }

  test("non-inner joins are not rewritten (explode would duplicate outer rows)") {
    val plan = withRule(on = true)(
      leftRows.join(rightRows,
        bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= 3, "left")
        .queryExecution.executedPlan.toString)
    assert(!plan.contains("__graft_ham_idx"), plan)
  }

  test("extra conjuncts re-apply above the rewritten join (self-join form)") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, 7), (2L, 7), (3L, 5), (4L, 1024))
      .toDF("id", "h")
    val a = docs.select(col("id").as("id_a"), col("h").as("h_a"))
    val b = docs.select(col("id").as("id_b"), col("h").as("h_b"))
    def q = a.join(b, col("id_a") < col("id_b")
      && bit_count(col("h_a").bitwiseXOR(col("h_b"))) <= 2)
      .select(col("id_a"), col("id_b"))
    val control = withRule(on = false)(rows(q))
    val rewritten = withRule(on = true)(rows(q))
    assert(rewritten === control)
    // (1,2) exact dup at distance 0; (1,3)/(2,3) at distance 2; the
    // id_a < id_b conjunct keeps each unordered pair once
    assert(control.contains((1L, 2L)) && control.contains((1L, 3L)))
    assert(control.forall(p => p._1 < p._2))
  }

  test("null sketches pair with nothing, with and without the rule") {
    val control = withRule(on = false)(rows(hamJoin(leftRows, rightRows, 31)))
    val rewritten = withRule(on = true)(rows(hamJoin(leftRows, rightRows, 31)))
    assert(rewritten === control)
    assert(!control.exists(p => p._1 == 4L || p._2 == 105L))
  }
}
