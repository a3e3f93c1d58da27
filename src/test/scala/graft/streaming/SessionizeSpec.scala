package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.{SparkTestBase, TempDirs}
import graft.model.Models.WebEvent

/** Streaming sessionization semantics recovered from the reference
  * checkpoint (SURVEY §2.9): 1-minute tumbling windows per user, 10-minute
  * watermark, append-mode emission only after the watermark passes window
  * end, and batch/stream equivalence of the same aggregation.
  */
class SessionizeSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft_rocks")

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private def ev(user: String, minute: Int, sec: Int = 0,
      etype: String = "click"): WebEvent =
    WebEvent(user, etype, "/home", ts(minute, sec), "organic")

  test("append mode emits a window only after watermark passes its end") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[WebEvent]
    val q = Sessionize.tumbling(input.toDF())
      .writeStream.format("memory").queryName("emit_test")
      .outputMode("append").start()
    try {
      // batch 1: two events in window [10:00, 10:01)
      input.addData(ev("u1", 0, 10), ev("u1", 0, 40, "purchase"))
      q.processAllAvailable()
      assert(spark.table("emit_test").count() === 0,
        "window must not emit before watermark passes 10:01")

      // batch 2: event at 10:12 → watermark = 10:02 > 10:01 → emit window 1
      input.addData(ev("u1", 12))
      q.processAllAvailable()
      val out = spark.table("emit_test").collect()
      assert(out.length === 1)
      val r = out.head
      assert(r.getAs[String]("user_id") === "u1")
      assert(r.getAs[Long]("number_of_events") === 2L)
      assert(r.getAs[Long]("session_duration_seconds") === 30L)
      assert(r.getAs[String]("first_event_type") === "click")
      assert(r.getAs[String]("last_event_type") === "purchase")
      assert(r.getAs[String]("events_json").contains("purchase"))
    } finally q.stop()
  }

  test("late events beyond the watermark are dropped") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[WebEvent]
    val q = Sessionize.tumbling(input.toDF())
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      input.addData(ev("u1", 0))
      q.processAllAvailable()
      input.addData(ev("u1", 30)) // watermark → 10:20
      q.processAllAvailable()
      input.addData(ev("u1", 5)) // 10:05 < watermark 10:20 → dropped
      q.processAllAvailable()
      input.addData(ev("u1", 45)) // advance watermark far past everything
      q.processAllAvailable()
      val users = spark.table("late_test").collect()
        .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[Long]("number_of_events")))
      // only the 10:00 and 10:30 windows exist; the late 10:05 never appears
      assert(users.map(_._1).forall(w =>
        w == ts(0) || w == ts(30)), s"unexpected windows: ${users.mkString(",")}")
    } finally q.stop()
  }

  test("streaming result equals batch execution of the same aggregation") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Seq(
      ev("u1", 0, 5), ev("u1", 0, 25, "purchase"), ev("u1", 1, 10),
      ev("u2", 0, 59), ev("u2", 2, 0), ev("u2", 2, 30, "add_to_cart"))
    val flush = ev("u9", 59) // advances watermark so everything emits

    val input = MemoryStream[WebEvent]
    val q = Sessionize.tumbling(input.toDF())
      .writeStream.format("memory").queryName("equiv_test")
      .outputMode("append").start()
    val streamed =
      try {
        input.addData(events: _*)
        q.processAllAvailable()
        input.addData(flush)
        q.processAllAvailable()
        spark.table("equiv_test")
          .collect().map(_.toSeq).toSet
      } finally q.stop()

    val batch = Sessionize.tumbling((events :+ flush).toDF())
      .where("user_id <> 'u9'")
      .collect().map(_.toSeq).toSet
    assert(streamed === batch)
  }

  test("gap sessionization works in streaming mode with watermark") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[WebEvent]
    val q = Sessionize.gapSession(input.toDF(), gap = "5 minutes")
      .writeStream.format("memory").queryName("gap_stream")
      .outputMode("append").start()
    try {
      // burst at 10:00-10:02, then silence; late driver event pushes the
      // watermark past session end + gap → session emits
      input.addData(ev("u1", 0), ev("u1", 2), ev("u1", 2, 30, "purchase"))
      q.processAllAvailable()
      assert(spark.table("gap_stream").count() === 0)
      input.addData(ev("u9", 30))
      q.processAllAvailable()
      val out = spark.table("gap_stream").collect()
      assert(out.length === 1)
      assert(out.head.getAs[Long]("number_of_events") === 3L)
      assert(out.head.getAs[Timestamp]("session_start_time") === ts(0))
      assert(out.head.getAs[Timestamp]("session_end_time") === ts(2, 30))
    } finally q.stop()
  }

  test("sessionization runs on the RocksDB state store provider") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[WebEvent]
    val ckpt = tempDir("graft_rocks").toString
    // the 100 TB state-store path is a conf switch, not a code change
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = Sessionize.tumbling(input.toDF())
      .writeStream.format("memory").queryName("rocks_test")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      input.addData(ev("u1", 0), ev("u1", 0, 30))
      q.processAllAvailable()
      input.addData(ev("u1", 20))
      q.processAllAvailable()
      val out = spark.table("rocks_test").collect()
      assert(out.length === 1)
      assert(out.head.getAs[Long]("number_of_events") === 2L)
    } finally { q.stop(); spark.conf.unset(key) }
  }

  test("gap sessionization: exactly-gap-apart merges, beyond-gap splits") {
    val s = spark
    import s.implicits._
    // Spark's session_window treats the boundary inclusively: an event at
    // exactly start+gap still merges (windows [t, t+gap] overlap on the
    // edge). One second beyond the gap starts a new session.
    val df = Seq(ev("u1", 0), ev("u1", 30), // exactly 30 min apart → merge
      ev("u2", 0), ev("u2", 30, 1) // 30 min 1 s apart → split
    ).toDF()
    val sessions = Sessionize.gapSession(df)
      .collect().map(r => (r.getAs[String]("user_id"),
        r.getAs[Timestamp]("session_start_time"),
        r.getAs[Long]("number_of_events"))).toSet
    assert(sessions === Set(
      ("u1", ts(0), 2L),
      ("u2", ts(0), 1L), ("u2", ts(30, 1), 1L)))
  }
}
