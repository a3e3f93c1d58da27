package graft.operators

import graft.SparkTestBase
import graft.core.Tables
import graft.functions.{Hashing, Md5PrefixLong, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.functions._

/** The per-row SimHash kernel ([[graft.functions.SimHash32]] behind
  * [[Dedup.simhashDocs]]) against the explode → 32 conditional sums →
  * regroup plan it replaced: bit-identical rows and schema on the testdata
  * documents and on edge-case text, plus the plan shape that makes it
  * cheap.
  */
class SimhashKernelSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private val testdata = "/root/testdata" // TESTDATA.md

  /** The replaced `Dedup.simhashDocs`, verbatim but for its input frame. */
  private def oldSimhashDocsOf(documents: DataFrame): DataFrame = {
    val hashed = documents
      .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), Hashing.stableHash32(col("tok")).as("h"))
    val bitSum = (j: Int) =>
      sum(when(shiftright(col("h"), j) % 2 === 1, 1L).otherwise(-1L)).as(s"b$j")
    hashed.groupBy(col("doc_id"))
      .agg(bitSum(0), (1 until 32).map(bitSum): _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  private def h32(s: String): Long = Md5PrefixLong.prefix(s.getBytes("UTF-8"), 8)

  private def assertSameAsOld(documents: DataFrame): Unit = {
    val before = oldSimhashDocsOf(documents)
    val after = Dedup.simhashDocsOf(documents)
    assert(after.schema === before.schema) // nullability included
    assert(bits(after) === bits(before))
  }

  for (scale <- Seq("sf0.001", "sf0.01"))
    test(s"kernel rows equal the explode/regroup form on $scale documents") {
      val docs = Tables.documents(spark, s"$testdata/$scale")
      assertSameAsOld(docs)
      assert(Dedup.simhashDocs(spark, s"$testdata/$scale").count() === docs.count())
    }

  test("kernel rows equal the explode/regroup form on edge-case text") {
    val s = spark
    import s.implicits._
    assert((h32("a") ^ h32("b")) != 0L) // "a b" ties on these bits
    assert((h32("rep") ^ h32("other")) != 0L)
    val docs = Seq[(Long, String)](
      1L -> "",                            // one empty token
      2L -> "  a   b  ",                   // runs of spaces: empty tokens
      3L -> "single",
      4L -> Seq.fill(50)("w").mkString(" "),
      5L -> "a b",                         // a vote sums to 0 on every differing bit
      6L -> "rep rep rep other",           // repeats outvote the odd token
      7L -> "héllo wörld 日本語 🙂 naïve",   // multi-byte UTF-8
      8L -> null                           // dropped by both forms
    ).toDF("doc_id", "text")
    assertSameAsOld(docs)
    val got = Dedup.simhashDocsOf(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet === (1L to 7L).toSet)
    assert(got(1L) === h32(""))
    assert(got(3L) === h32("single"))
    assert(got(4L) === h32("w"))
    assert(got(5L) === (h32("a") & h32("b")))   // ties give 0
    assert(got(6L) === h32("rep"))              // no de-duplication
  }

  test("simhash(tokens, nbits) is the 32-bit sketch masked to nbits bits") {
    val s = spark
    import s.implicits._
    val r = Seq("the quick brown fox jumps").toDF("text")
      .select(Hashing.simhash(Text.tokens(col("text")), 32),
        Hashing.simhash(Text.tokens(col("text")), 8))
      .collect().head
    assert(r.getLong(1) === (r.getLong(0) & 0xffL))
  }

  /** The executed plan (AQE final when AQE applies); `collect` from
    * [[AdaptiveSparkPlanHelper]] walks into its query stages.
    */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  test("simhashDocs is one narrow projection: no Exchange, Generate or HashAggregate") {
    val plan = executed(Dedup.simhashDocs(spark, s"$testdata/sf0.001"))
    val offending = collect(plan) {
      case p: Exchange => p.nodeName
      case p: GenerateExec => p.nodeName
      case p: HashAggregateExec => p.nodeName
    }
    assert(offending.isEmpty, plan.toString)
  }

  test("q261 executes one BroadcastExchange and no shuffle Exchange") {
    val plan = executed(graft.SparkEntry.queries("q261_hamming_join_rewrite")(
      spark, s"$testdata/sf0.001"))
    assert(collect(plan) { case b: BroadcastExchangeExec => b }.size === 1, plan.toString)
    assert(collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty, plan.toString)
  }
}
