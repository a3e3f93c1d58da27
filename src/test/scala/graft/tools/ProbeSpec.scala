package graft.tools

import java.io.ByteArrayOutputStream
import graft.SparkTestBase
import graft.core.Tables

/** [[Probe]]'s three modes on one cheap query, run on the test session. */
class ProbeSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val query = "q01_pricing_summary"

  private def printed(f: => Unit): String = {
    val out = new ByteArrayOutputStream()
    Console.withOut(out)(f)
    out.toString("UTF-8")
  }

  test("time: one cold and three warm runs, each split into build, plan and exec") {
    var runs = Seq.empty[Probe.Run]
    val out = printed { runs = Probe.time(spark, sf, Seq(query)) }
    assert(runs.map(_.run) === Seq("cold", "warm1", "warm2", "warm3"))
    runs.foreach { r =>
      assert(r.query === query)
      assert(r.buildS >= 0 && r.planS >= 0 && r.execS >= 0, r)
      assert(r.jobs >= 1, r)
    }
    assert(out.contains(s"[time] data=$sf"))
    assert(out.linesIterator.exists(_.startsWith("[layout] lineitem")))
  }

  test("plan: the static physical plan, leaving the caller's AQE conf as it was") {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key)
    val out = printed(Probe.plan(spark, sf, Seq(query)))
    assert(out.contains("== Physical Plan =="))
    assert(!out.contains("AdaptiveSparkPlan"))
    assert(spark.conf.get(key) === before)
  }

  test("metrics: the lineitem scan reports every lineitem row") {
    val rows = Tables.lineitem(spark, sf).count()
    val out = printed(Probe.metrics(spark, sf, Seq(query)))
    val scanned = out.linesIterator.filter(_.trim.startsWith("Scan"))
      .flatMap("""numOutputRows=(\d+)""".r.findFirstMatchIn(_)).map(_.group(1).toLong)
      .toSeq
    assert(scanned.contains(rows), out)
  }
}
