package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{SparkTestBase, TempDirs}

class StreamDedupSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft_neardup_gate")

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("dropDuplicatesWithinWatermark suppresses cross-batch duplicates") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = StreamDedup.withinWatermark(
      input.toDF().toDF("event_id", "ts", "payload"), "ts", "10 minutes", "event_id")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0), "a"), (1L, ts(0), "a-dup"), (2L, ts(1), "b"))
      q.processAllAvailable()
      input.addData((1L, ts(2), "a-late-dup"), (3L, ts(3), "c"))
      q.processAllAvailable()
      val ids = spark.table("sdedup").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L), "duplicate event_id=1 must emit once")
    } finally q.stop()
  }

  test("batch dedup keeps one row per key") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("event_id", "v")
    assert(StreamDedup.batch(df, "event_id").count() === 2)
  }

  test("near-dup ingest gate: cross-batch near-dups flagged, history stays clean") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tempDir("graft_neardup_gate")
    val (hist, ckpt) = (s"$dir/history", s"$dir/ckpt")
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val input = MemoryStream[(Long, String)]
    val q = StreamDedup.nearDupIngestGate(
      input.toDF().toDF("doc_id", "text"), hist, ckpt,
      h => hits.synchronized {
        hits ++= h.collect().map(r => (r.getLong(0), r.getLong(1)))
      })
    try {
      // batch 1: two distinct docs seed the empty history — no hits
      input.addData((1L, base), (2L, "one two three four five six seven"))
      q.processAllAvailable()
      assert(hits.isEmpty, "empty history cannot produce hits")
      // batch 2: doc 3 near-dups doc 1 (one word changed), doc 4 is clean
      input.addData((3L, base.replace("kappa", "lambda")), (4L, "wholly new words again"))
      q.processAllAvailable()
      assert(hits.toSet === Set((3L, 1L)), s"got $hits")
      // history holds every CLEAN doc and no flagged one
      val lake = spark.read.parquet(hist).collect().map(_.getLong(0)).toSet
      assert(lake === Set(1L, 2L, 4L))
      // batch 3: a near-dup of the flagged-and-rejected doc 3 still hits
      // doc 1 (the owned original), proving the gate checks the LAKE
      input.addData((5L, base.replace("alpha", "omega")))
      q.processAllAvailable()
      assert(hits.toSet === Set((3L, 1L), (5L, 1L)))
    } finally q.stop()
  }
}
