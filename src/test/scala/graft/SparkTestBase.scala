package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** Shared local session for all suites (getOrCreate — one JVM-wide session;
  * suites must not stop it).
  */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(4)

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
