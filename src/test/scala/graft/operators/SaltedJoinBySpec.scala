package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.functions._

class SaltedJoinBySpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def fact = {
    val s = spark
    import s.implicits._
    // heavy skew: 90% of rows share one key
    (1 to 200).map(i => (i.toLong, if (i <= 180) "hot" else s"cold${i % 4}", i * 1.0))
      .toDF("id", "k", "v")
  }

  private def dim = {
    val s = spark
    import s.implicits._
    Seq(("hot", 1L), ("cold1", 2L), ("cold2", 3L), ("cold3", 4L), ("cold0", 5L))
      .toDF("k", "tag")
  }

  test("salted join returns exactly the plain join rows") {
    val plain = fact.join(dim, "k").select(col("id"), col("tag"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val salted = Skew.saltedJoinBy(fact, dim, "k", col("id"), salt = 8)
      .select(col("id"), col("tag"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(salted.length === 200)
    assert(salted.toSeq === plain.toSeq)
  }

  test("the join key carries the salt (distinct shuffle targets multiply)") {
    val df = Skew.saltedJoinBy(fact, dim, "k", col("id"), salt = 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_salt"), plan)
    // each fact row gets ONE deterministic salt; the dim side covers all 8
    val dimSide = dim.withColumn("__graft_salt",
      explode(sequence(lit(0L), lit(7L))))
    assert(dimSide.count() === 5 * 8)
  }

  test("q80 fixture matches its own unsalted form on the shared session") {
    val sf = "/root/testdata/sf0.001"
    val q80 = Skew.eventTypeStatsSalted(spark, sf)
    val salted = q80.collect().map(_.toSeq).toSet
    // the salted join shuffles on the shared session: no broadcast join,
    // and both sides keyed on the salt (the final adaptive plan)
    val plan = q80.queryExecution.executedPlan
    val joins = collect(plan) { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, s"no join in\n$plan")
    assert(!joins.exists(_.isInstanceOf[BroadcastHashJoinExec]), s"a broadcast join in\n$plan")
    joins.foreach { j =>
      assert(j.leftKeys.exists(_.references.exists(_.name == "__graft_salt")) &&
        j.rightKeys.exists(_.references.exists(_.name == "__graft_salt")),
        s"join keys without the salt: $j")
    }
    val e = graft.core.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"))
    val stats = e.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type_events"),
        round(round(sum(col("value")), 2) / count(lit(1)), 6).as("type_mean_value"))
    val plain = e.join(stats, "event_type")
      .select(col("event_id"), col("event_type"),
        col("n_type_events"), col("type_mean_value"))
      .collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(salted.nonEmpty)
  }
}
