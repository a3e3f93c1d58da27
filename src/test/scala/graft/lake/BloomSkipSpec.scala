package graft.lake

import graft.{ScanMeter, SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._

/** q383 end-to-end: parquet bloom filters must actually skip row groups
  * on a point lookup where zone maps CANNOT (the copy is deliberately
  * hash-shuffled, so every file's event_id min/max spans the whole
  * domain). The control copy holds the SAME rows in the SAME layout
  * minus the bloom — its scan has to surface every row; the bloom scan
  * must surface only the few row groups whose filter says "maybe".
  */
class BloomSkipSpec extends SparkTestBase with ScanMeter with TempDirs {

  protected val tmpPrefixes = Seq("graft-nobloom")

  private val sf = "/root/testdata/sf0.001"

  test("q383: bloom point lookup row-group-skips; bloom-less control cannot") {
    val (bloomRows, bloomRead) = runAndMeter(Lake.bloomPointLookup(spark, sf))

    // the pinned lookup against the raw table: exactly these three events
    val expected = Lake.bloomLookupOf(
      graft.core.Tables.events(spark, sf)).collect().map(_.toSeq).toSet
    assert(bloomRows === expected)
    assert(bloomRows.map(_.head) === Set(7L, 123L, 789L))

    // control: identical rows, identical hash-shuffled layout, NO bloom
    val control = tempDir("graft-nobloom")
      .resolve("events_n").toString
    graft.core.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))
      .repartition(16, col("user_id"))
      .write.mode("overwrite").parquet(control)
    val (controlRows, controlRead) =
      runAndMeter(Lake.bloomLookupOf(spark.read.parquet(control)))
    assert(controlRows === expected, "layout must not change content")

    val total = graft.core.Tables.events(spark, sf).count()
    assert(controlRead === total,
      s"hash-order min/max cannot prune a point lookup: expected all $total rows read")
    assert(bloomRead * 2 <= total,
      s"bloom should skip >= half the row groups, read $bloomRead of $total")
    info(s"bloom read $bloomRead / $total rows; control read $controlRead")
  }
}
