package graft.tools

import java.io.File
import graft.SparkTestBase

/** Every [[Stress]] leg once on the test session, each at a scale small
  * enough for tier-1 yet large enough for each of its checks to bite (e.g.
  * 200 planted near pairs under dedup's 90 % recall floor). A leg throws
  * on its first failed check; each run must also leave the caller's conf,
  * the temp dir and the catalog as it found them.
  */
class StressSpec extends SparkTestBase {

  private val scales = Seq(
    "skipping" -> Seq("20000"),
    "maintain" -> Seq("4000"),
    "rank" -> Seq("200000"),
    "dedup" -> Seq("4000"),
    "dbscan" -> Seq("500", "2000", "50"),
    "mmr" -> Seq("2000"))

  private def leftovers(): Set[String] =
    new File(System.getProperty("java.io.tmpdir")).list().toSet
      .filter(_.startsWith(Stress.TempPrefix))

  test("every leg has a scale here") {
    assert(scales.map(_._1).toSet === Stress.legs.keySet)
  }

  scales.foreach { case (leg, args) =>
    test(s"$leg: planted truth holds at ${args.mkString("/")}") {
      val conf = spark.conf.getAll
      val dirs = leftovers()
      val tables = spark.catalog.listTables().collect().map(_.name).toSet
      Stress.legs(leg)(spark, args)
      assert(spark.conf.getAll === conf)
      assert(leftovers() === dirs)
      assert(spark.catalog.listTables().collect().map(_.name).toSet === tables)
    }
  }
}
