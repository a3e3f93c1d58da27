package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The benchmark's own checks of its generators and correctness checkers.
  * Prints one PASS/FAIL line per check; exits non-zero if any failed.
  */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  /** A copy of `df` with one cell of its first row changed. */
  private def planted(df: DataFrame, column: String, value: Any): DataFrame = {
    val first = df.limit(1).withColumn(column, lit(value).cast(df.schema(column).dataType))
    df.exceptAll(df.limit(1)).unionByName(first)
  }

  def main(args: Array[String]): Unit = {
    expect("same seed gives byte-identical eCommerce files",
      Gen.ecommerceFile(11, 1, 3, 200, 0, 50) == Gen.ecommerceFile(11, 1, 3, 200, 0, 50))
    expect("another seed gives other eCommerce files",
      Gen.ecommerceFile(11, 1, 3, 200, 0, 50) != Gen.ecommerceFile(12, 1, 3, 200, 0, 50))
    def replayText(seed: Long) =
      Gen.webReplay(seed, 6, 50, 1, 20, 0.1).flatten.map(_.json).mkString("\n")
    expect("same seed gives a byte-identical replay", replayText(11) == replayText(11))
    expect("another seed gives another replay", replayText(11) != replayText(12))
    expect("same seed gives the same arrival schedule",
      Gen.arrivalGapsMs(11, 50, 150) == Gen.arrivalGapsMs(11, 50, 150))
    expect("another seed gives another arrival schedule",
      Gen.arrivalGapsMs(11, 50, 150) != Gen.arrivalGapsMs(12, 50, 150))

    val spark = graft.core.GraftSession.local(2)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      // stream_ingest, lake: the checker compares the lake with the direct
      // EventIngest.pipeline over the same payloads
      val payloads = Gen.ecommerceFile(5, 1, 0, 40, 0, 10).split('\n').toSeq
      val direct = graft.ingest.EventIngest.pipeline(
        payloads.toDF("v").select(col("v").cast("binary").as("value")))
      expect("lake checker accepts the same rows",
        Check.sameRows(direct, direct, direct.columns.toSeq).isEmpty)
      expect("lake checker rejects a planted wrong row",
        Check.sameRows(direct, planted(direct, "price", "0.01"), direct.columns.toSeq).nonEmpty)
      expect("lake checker rejects a duplicated row",
        Check.sameRows(direct, direct.unionByName(direct.limit(1)), direct.columns.toSeq).nonEmpty)

      // stream_ingest, sessions: late events leave the expectation
      val replay = Gen.webReplay(5, 6, 40, 1, 10, 0.2)
      val batchOf = replay.indices.map(i => f"web_$i%05d.json" -> i.toLong).toMap
      val none = StreamIngest.expectedSessions(spark, replay, batchOf, Map.empty)
      // batch i closes with the watermark (max event time so far) - 10 min
      val closing = replay.indices.map(i => i.toLong ->
        (replay.take(i + 1).flatten.map(_.tsMs).max - 600000L)).toMap
      val strict = StreamIngest.expectedSessions(spark, replay, batchOf, closing)
      expect("session expectation drops events past the watermark",
        strict.count() < none.count())
      expect("sessions checker accepts the same rows",
        Check.sameRows(strict, strict, strict.columns.toSeq).isEmpty)
      expect("sessions checker rejects a planted wrong row",
        Check.sameRows(strict, planted(strict, "number_of_events", 999L),
          strict.columns.toSeq).nonEmpty)

      // daily_gold: served gold against the recompute
      val ev = DailyGold.evShape(direct)
      val gold = graft.analytics.Sessions.userLevelOf(ev)
      expect("gold checker rejects a planted wrong row",
        Check.sameRows(gold, planted(gold, "total_purchases", 12345L),
          gold.columns.toSeq).nonEmpty)
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
