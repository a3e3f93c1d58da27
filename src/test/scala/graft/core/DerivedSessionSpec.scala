package graft.core

import java.lang.ref.WeakReference
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.{SparkEntry, SparkTestBase}
import graft.operators.{Dedup, Skew}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** [[GraftSession.derived]]: one child session per (parent, override map),
  * conf-isolated from the parent, and reused across calls so the
  * rule-planned queries on it stop recompiling their generated code.
  */
class DerivedSessionSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val key = "spark.graft.test.derivedSession"

  /** The catalogue entries that run on a derived session, with its confs. */
  private val derivedQueries = Seq(
    "q75_sim_join_rewrite" -> Dedup.SimilarityJoinRewriteConfs,
    "q80_salted_join" -> Skew.SaltedJoinConfs)

  /** The rule-planned entries that run on the caller's session. */
  private val callerQueries = Seq("q65_range_join_rewrite", "q261_hamming_join_rewrite")

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()

  test("the same override map returns the same session; another map another") {
    val a = GraftSession.derived(spark, Map(key -> "1", "spark.graft.test.other" -> "x"))
    assert(GraftSession.derived(spark,
      Map("spark.graft.test.other" -> "x", key -> "1")) eq a)
    val b = GraftSession.derived(spark, Map(key -> "2"))
    assert(!(b eq a))
    assert(!(a eq spark) && !(b eq spark))
    assert(a.conf.get(key) === "1" && b.conf.get(key) === "2")
    assert(spark.conf.getOption(key).isEmpty, "the parent's conf must stay unset")
  }

  test("a derived child does not keep its parent alive") {
    def orphanedParent(): (WeakReference[SparkSession], SparkSession) = {
      val parent = spark.newSession()
      (new WeakReference(parent), GraftSession.derived(parent, Map(key -> "1")))
    }
    val (parent, child) = orphanedParent()
    var tries = 0
    while (parent.get != null && tries < 20) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(parent.get == null, "the derived child (or the map) pins its parent")
    assert(child.conf.get(key) === "1")
  }

  test("derived-session queries leave the parent's conf as it was") {
    val before = derivedQueries.flatMap(_._2.keys).map(k => k -> spark.conf.getOption(k)).toMap
    derivedQueries.foreach { case (name, _) => run(name) }
    before.foreach { case (k, v) => assert(spark.conf.getOption(k) === v, k) }
  }

  test("a second warm call of each derived-session query compiles no code") {
    (derivedQueries.map(_._1) ++ callerQueries).foreach { name =>
      run(name)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      run(name)
      assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles === 0L,
        s"$name recompiled generated code on a warm call")
    }
  }

  // ---- old ≡ new: each query on a fresh newSession() with the verbatim
  // confs of its pre-derived form, against the shipped derived form ----

  private def freshWith(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  test("q75 on the derived session is bit-identical to the fresh-session form") {
    val s = freshWith("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    assert(bits(Dedup.jaccardPairsRewriteOn(s, sf, 0.8, None))
      == bits(Dedup.jaccardPairsRewrite(spark, sf)))
  }

  test("q80 on the derived session is bit-identical to the fresh-session form") {
    val s = freshWith("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    assert(bits(Skew.eventTypeStatsSaltedOn(s, sf, 16))
      == bits(Skew.eventTypeStatsSalted(spark, sf)))
  }

  test("newSession() appears in main sources only in GraftSession and tools") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val allowed = Set(root.resolve("core/GraftSession.scala"))
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(allowed)
      .filter(p => """\bnewSession\s*\(""".r.findFirstIn(Files.readString(p)).nonEmpty)
      .map(root.relativize(_: Path).toString).toList
    assert(offenders.isEmpty,
      s"per-call newSession() in query code; use GraftSession.derived: $offenders")
  }

  test("no spark.graft.* conf key appears in main sources") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains("spark.graft."))
      .map(root.relativize(_: Path).toString).toList
    assert(offenders.isEmpty,
      s"the planner takes no spark.graft.* settings; the join rewrites fire on plan shape: $offenders")
  }
}
