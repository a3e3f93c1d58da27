package graft.core

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.{SparkEntry, SparkTestBase}
import graft.operators.{Dedup, Skew}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate

/** Every catalogue query runs on its caller's session and leaves its conf
  * as found. The queries that once ran on a derived session (q75, q80) or
  * changed the caller's conf around a job (q74) keep their rows, q75 plans
  * as it did with its old conf, and the rule-planned and hinted queries
  * compile no code on a warm call.
  */
class DerivedSessionSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()

  test("q74, q75 and q80 leave the caller's spark.conf.getAll as found") {
    val before = spark.conf.getAll
    Seq("q74_decontam_bloom", "q75_sim_join_rewrite", "q80_salted_join").foreach(run)
    assert(spark.conf.getAll === before)
  }

  test("a second warm call of each rule-planned query compiles no code") {
    Seq("q65_range_join_rewrite", "q75_sim_join_rewrite", "q80_salted_join",
        "q261_hamming_join_rewrite").foreach { name =>
      run(name)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run(name)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0L,
        s"$name recompiled generated code on a warm call")
    }
  }

  test("q75 plans as with InferFiltersFromGenerate excluded") {
    // the rule's generator input must not be a bare attribute: for one,
    // InferFiltersFromGenerate adds a size/isnotnull filter that pushdown
    // inlines, with the whole shingle pipeline, below the repartition
    def optimized = Dedup.jaccardPairsRewrite(spark, sf).queryExecution.optimizedPlan
    val default = optimized
    val excluded = withRule(InferFiltersFromGenerate, on = false)(optimized)
    assert(default.sameResult(excluded),
      s"caller's session:\n$default\nInferFiltersFromGenerate excluded:\n$excluded")
  }

  // ---- old ≡ new: each query on a newSession() carrying the verbatim
  // confs of its old derived session, against the caller's session ----

  private def oldSession(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  test("q75 on the caller's session is bit-identical to its old derived form") {
    val s = oldSession("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    assert(bits(Dedup.jaccardPairsRewrite(s, sf)) == bits(Dedup.jaccardPairsRewrite(spark, sf)))
  }

  test("q80 on the caller's session is bit-identical to its old derived form") {
    val s = oldSession("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    assert(bits(Skew.eventTypeStatsSalted(s, sf)) == bits(Skew.eventTypeStatsSalted(spark, sf)))
  }

  /** (path relative to `dir`, content) of every Scala source under `dir`. */
  private def sources(dir: String): Seq[(Path, String)] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .map(p => root.relativize(p: Path) -> Files.readString(p)).toList
  }

  test("query code never changes session state") {
    // dev tools own their sessions and may build one-off control sessions
    val stateChange = """\bnewSession\s*\(|\.conf\.(set|unset)\s*\(""".r
    val offenders = sources("src/main/scala/graft")
      .filterNot { case (p, _) => p.startsWith("tools") }
      .filter { case (_, src) => stateChange.findFirstIn(src).nonEmpty }
      .map(_._1.toString)
    assert(offenders.isEmpty, "query code forks or changes a session; put the " +
      s"choice in the plan (a rule, a join hint) instead: $offenders")
  }

  test("no spark.graft.* conf key appears in main sources") {
    val offenders = sources("src/main/scala")
      .filter { case (_, src) => src.contains("spark.graft.") }
      .map(_._1.toString)
    assert(offenders.isEmpty,
      s"the planner takes no spark.graft.* settings; the join rewrites fire on plan shape: $offenders")
  }
}
