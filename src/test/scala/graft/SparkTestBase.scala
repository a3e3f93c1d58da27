package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** Shared local session for all suites (getOrCreate — one JVM-wide session;
  * suites must not stop it).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

  /** Runs `f` as the session plans it when `on`; when not, with `rule`
    * named in `spark.sql.optimizer.excludedRules` — the nested-loop control
    * of the graft join rewrites, which otherwise fire wherever their
    * pattern matches. The conf is read at optimization time, so plan and
    * collect inside `f`.
    */
  protected def withRule[A](rule: Rule[LogicalPlan], on: Boolean)(f: => A): A =
    if (on) f
    else {
      val key = "spark.sql.optimizer.excludedRules"
      val old = spark.conf.getOption(key)
      spark.conf.set(key, rule.ruleName)
      try f finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** Bit-level row image for "verbatim old form ≡ new form" pins: sorted
    * rows, doubles via doubleToRawLongBits (a 1-ulp or -0.0 drift fails),
    * everything else via toString. Pin with `assert(bits(old) == bits(new))`.
    */
  protected def bits(df: DataFrame): Seq[String] = df.collect().toSeq.map { r =>
    (0 until r.length).map { i =>
      r.get(i) match {
        case null => "∅"
        case d: java.lang.Double =>
          java.lang.Double.doubleToRawLongBits(d).toString
        case v => v.toString
      }
    }.mkString("|")
  }.sorted
}
