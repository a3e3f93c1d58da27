package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.{SparkTestBase, TempDirs}

/** The merge-law replay harness (VERDICT r9 item 5): every maintained
  * table states its law and gets the same replay test — apply a batch
  * schedule THROUGH [[MaintainedTable.maintainParquet]] (driven at the
  * foreachBatch-body grain, where batchId is controllable), replay
  * batches, and assert (a) the law's replay behavior (additive → fenced
  * no-op; idempotent/monotone → byte-identical convergence) and (b) the
  * final store equals the single-pass batch recompute (delta is an
  * aggregate homomorphism for all three instances, so
  * fold(merge, deltas) ≡ deltaOf(union of batches)).
  *
  * Also exercises the crash windows of the tmp-write + rename swap: a
  * stale tmp is discarded, an orphan bak (crash between the two renames)
  * is restored, a bak beside a live store (crash before cleanup) is
  * dropped.
  */
class MergeLawSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-law-")

  private def tmpStore(tag: String): String =
    tempDir(s"graft-law-$tag")
      .resolve("store").toString

  private def snapshot(path: String): Set[Seq[Any]] =
    spark.read.parquet(path).collect().map(_.toSeq).toSet

  /** Replay-law harness: applies `batches` in order through the
    * maintained body, then replays every batch (same ids) and asserts
    * the law; returns the post-schedule snapshot for the recompute
    * check.
    */
  private def replayLaw(law: MaintainedTable.MergeLaw, path: String,
      body: (DataFrame, Long) => Unit, batches: Seq[DataFrame]): Set[Seq[Any]] = {
    batches.zipWithIndex.foreach { case (b, i) => body(b, i.toLong) }
    val applied = snapshot(path)
    // replay the whole schedule with the ORIGINAL ids (at-least-once
    // redelivery): every law must leave the store unchanged — additive
    // via the fence, idempotent/monotone via the merge itself
    batches.zipWithIndex.foreach { case (b, i) => body(b, i.toLong) }
    assert(snapshot(path) === applied,
      s"${law.name} store must be unchanged under full-schedule replay")
    if (law.replaySafe) {
      // replay-safe laws must also converge under NEW ids carrying
      // duplicate data (re-stamped redelivery — no fence to save them)
      batches.zipWithIndex.foreach { case (b, i) =>
        body(b, (batches.size + i).toLong)
      }
      assert(snapshot(path) === applied,
        s"${law.name} store must converge under re-stamped duplicate data")
    }
    applied
  }

  private def ordersDF(rows: Seq[(String, Double)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("_1", "_2").select(
      col("_1").cast("timestamp").as("o_orderdate"),
      col("_2").as("o_totalprice"))
  }

  test("additive law (GoldMaintain): fence blocks replays, store equals recompute") {
    val path = tmpStore("gold")
    val b = Seq(
      ordersDF(Seq(("2021-01-01 10:00:00", 1.0), ("2021-01-02 09:00:00", 2.0))),
      ordersDF(Seq(("2021-01-01 11:00:00", 3.0), ("2021-01-03 08:00:00", 4.0))),
      ordersDF(Seq(("2021-01-02 23:00:00", 5.0))))
    val got = replayLaw(MaintainedTable.Additive, path,
      GoldMaintain.maintainParquet(path) _, b)
    val expected = GoldMaintain.dayGrainOf(b.reduce(_ unionByName _))
      .collect().map(_.toSeq).toSet
    assert(got === expected)
    // an out-of-order LOWER id after a higher one is also fenced (the
    // replay-after-crash shape: checkpoint committed 2, batch 1 redelivered)
    GoldMaintain.maintainParquet(path)(b(1), 1L)
    assert(snapshot(path) === expected)
    // but the NEXT id applies
    GoldMaintain.maintainParquet(path)(
      ordersDF(Seq(("2021-01-04 10:00:00", 7.0))), 3L)
    assert(snapshot(path) !== expected)
  }

  private def eventsDF(rows: Seq[(Long, String)]): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("user_id", "ts")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
  }

  test("idempotent law (BitmapMaintain): replays and re-stamped duplicates converge") {
    val path = tmpStore("bits")
    val b = Seq(
      eventsDF(Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 09:00:00"))),
      eventsDF(Seq((1L, "2024-03-11 08:00:00"), (2L, "2024-01-02 23:00:00"))))
    val got = replayLaw(MaintainedTable.Idempotent, path,
      BitmapMaintain.maintainParquet(path) _, b)
    val expected = BitmapMaintain.dayBitsOf(b.reduce(_ unionByName _))
      .collect().map(_.toSeq).toSet
    assert(got === expected)
  }

  test("monotone law (KeySetMaintain): store grows to the distinct-key union") {
    val path = tmpStore("keys")
    val b = Seq(
      eventsDF(Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-02 09:00:00"))),
      eventsDF(Seq((2L, "2024-01-05 08:00:00"), (3L, "2024-01-02 23:00:00"))))
    val got = replayLaw(MaintainedTable.Monotone, path,
      KeySetMaintain.maintainParquet(path, "user_id") _, b)
    assert(got === Set(Seq(1L), Seq(2L), Seq(3L)))
  }

  test("crash recovery: stale tmp discarded, orphan bak restored, dangling bak dropped") {
    val path = tmpStore("crash")
    val store = new Path(path)
    val fs = store.getFileSystem(spark.sessionState.newHadoopConf())
    val body = KeySetMaintain.maintainParquet(path, "user_id") _
    body(eventsDF(Seq((1L, "2024-01-01 10:00:00"))), 0L)
    val afterFirst = snapshot(path)

    // window 1: crash after tmp write, before the swap — store intact,
    // stale tmp must be discarded and the replayed batch re-applied
    fs.mkdirs(new Path(path + ".tmp"))
    body(eventsDF(Seq((2L, "2024-01-02 10:00:00"))), 1L)
    assert(!fs.exists(new Path(path + ".tmp")))
    assert(snapshot(path) === afterFirst + Seq(2L))

    // window 2: crash between the two renames — store missing, bak holds
    // the data; recovery must restore it before applying
    fs.rename(store, new Path(path + ".bak"))
    assert(!fs.exists(store))
    body(eventsDF(Seq((3L, "2024-01-03 10:00:00"))), 2L)
    assert(snapshot(path) === afterFirst + Seq(2L) + Seq(3L),
      "orphan bak must be restored, not clobbered by a from-scratch store")

    // window 3: crash after the swap, before bak cleanup — live store wins
    fs.mkdirs(new Path(path + ".bak"))
    body(eventsDF(Seq((4L, "2024-01-04 10:00:00"))), 3L)
    assert(!fs.exists(new Path(path + ".bak")))
    assert(snapshot(path) === afterFirst + Seq(2L) + Seq(3L) + Seq(4L))
  }

  test("additive fence is appId-scoped: a new incarnation's batch 0 applies") {
    val path = tmpStore("appid")
    GoldMaintain.maintainParquet(path, appId = "one")(
      ordersDF(Seq(("2021-01-01 10:00:00", 1.0))), 0L)
    val afterOne = snapshot(path)
    // same appId, same id → fenced
    GoldMaintain.maintainParquet(path, appId = "one")(
      ordersDF(Seq(("2021-01-01 10:00:00", 99.0))), 0L)
    assert(snapshot(path) === afterOne)
    // new appId, id 0 → applies (the fresh-checkpoint restart contract)
    GoldMaintain.maintainParquet(path, appId = "two")(
      ordersDF(Seq(("2021-01-02 10:00:00", 2.0))), 0L)
    assert(snapshot(path).size === 2)
  }
}
