package graft.streaming

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase
import graft.model.Models.WebEvent

class StatefulSessionizeSpec extends SparkTestBase {

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private def ev(user: String, minute: Int, sec: Int = 0,
      etype: String = "click"): WebEvent =
    WebEvent(user, etype, "/home", ts(minute, sec), "organic")

  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // the timeout path on both state stores: the default HDFS-backed one and
  // RocksDB (the 100 TB state path is a conf switch, not a code change)
  for ((provider, suffix) <- Seq(None -> "", Some(rocksDb) -> " on the RocksDB state store"))
  test("flatMapGroupsWithState closes sessions by gap timeout" + suffix) {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    provider.foreach(spark.conf.set(key, _))
    val input = MemoryStream[WebEvent]
    val table = if (provider.isEmpty) "fmgws" else "fmgws_rocks"
    val q = StatefulSessionize
      .sessionize(spark, input.toDS(), gapMs = 5 * 60 * 1000L)
      .writeStream.format("memory").queryName(table)
      .outputMode("append").start()
    try {
      // session: 10:00-10:02; then nothing from u1
      input.addData(ev("u1", 0), ev("u1", 2, 0, "purchase"))
      q.processAllAvailable()
      assert(spark.table(table).count() === 0)
      // u9 at 10:30 → watermark 10:20 > 10:02+5min → u1's session times out
      input.addData(ev("u9", 30))
      q.processAllAvailable()
      input.addData(ev("u9", 31)) // extra batch so the timeout fires
      q.processAllAvailable()
      val rows = spark.table(table).collect()
        .filter(_.getAs[String]("user_id") == "u1")
      assert(rows.length === 1)
      val r = rows.head
      assert(r.getAs[Long]("number_of_events") === 2L)
      assert(r.getAs[Long]("session_duration_seconds") === 120L)
      assert(r.getAs[String]("first_event_type") === "click")
      assert(r.getAs[String]("last_event_type") === "purchase")
      assert(r.getAs[String]("closed_by") === "timeout")
      assert(provider.isEmpty || q.lastProgress.stateOperators.head.customMetrics
        .keySet.asScala.exists(_.startsWith("rocksdb")), "the state store is not RocksDB")
    } finally { q.stop(); provider.foreach(_ => spark.conf.unset(key)) }
  }

  test("late cross-batch events lower session start and keep true last type") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[WebEvent]
    val q = StatefulSessionize
      .sessionize(spark, input.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("fmgws_late")
      .outputMode("append").start()
    try {
      // batch 1: 10:04 view, 10:05 purchase (open session)
      input.addData(ev("u1", 4, 0, "page_view"), ev("u1", 5, 0, "purchase"))
      q.processAllAvailable()
      // batch 2: LATE click at 10:02 (within watermark) joins the session
      input.addData(ev("u1", 2, 0, "click"))
      q.processAllAvailable()
      // advance watermark far enough to flush, plus an extra batch for the timer
      input.addData(ev("u9", 40)); q.processAllAvailable()
      input.addData(ev("u9", 41)); q.processAllAvailable()
      val r = spark.table("fmgws_late").collect()
        .filter(_.getAs[String]("user_id") == "u1").head
      assert(r.getAs[Timestamp]("session_start_time") === ts(2),
        "late event must lower session start")
      assert(r.getAs[String]("first_event_type") === "click")
      assert(r.getAs[String]("last_event_type") === "purchase",
        "a late non-latest event must not steal last_event_type")
      assert(r.getAs[Long]("number_of_events") === 3L)
    } finally q.stop()
  }

  test("in-batch gap splits sessions and the event cap force-closes") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[WebEvent]
    val q = StatefulSessionize
      .sessionize(spark, input.toDS(), gapMs = 60 * 1000L, maxEventsPerSession = 3)
      .writeStream.format("memory").queryName("fmgws2")
      .outputMode("append").start()
    try {
      // u1: 10:00, 10:00:30, then a 2-min silence, then 10:02:30 → gap split
      // u2: 3 events in one minute → capped close
      input.addData(
        ev("u1", 0), ev("u1", 0, 30), ev("u1", 2, 30),
        ev("u2", 0), ev("u2", 0, 10), ev("u2", 0, 20))
      q.processAllAvailable()
      val byUser = spark.table("fmgws2").collect()
        .groupBy(_.getAs[String]("user_id"))
      // u1's first session closed by the in-batch gap
      assert(byUser("u1").map(_.getAs[String]("closed_by")).toSeq === Seq("gap"))
      assert(byUser("u1").head.getAs[Long]("number_of_events") === 2L)
      // u2 hit the cap
      assert(byUser("u2").map(_.getAs[String]("closed_by")).toSeq === Seq("cap"))
      assert(byUser("u2").head.getAs[Long]("number_of_events") === 3L)
    } finally q.stop()
  }
}
