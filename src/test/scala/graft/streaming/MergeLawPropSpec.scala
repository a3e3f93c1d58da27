package graft.streaming

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Property tests for the maintenance laws on SEEDED random batch
  * schedules: random batch sizes, random day/key distributions, and
  * at-least-once delivery simulated by interleaving REPLAYS of random
  * earlier batches (same batchId — the crash-recovery shape) after every
  * apply. The invariant checked is the merge-law contract itself: the
  * final store equals the single-pass batch recompute over the UNIQUE
  * batches, no matter the schedule or the replays.
  */
class MergeLawPropSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-lawprop-")

  private val rnd = new scala.util.Random(0x10c0ffee)

  private def tmpStore(tag: String): String =
    tempDir(s"graft-lawprop-$tag")
      .resolve("store").toString

  private def snapshot(path: String): Set[Seq[Any]] =
    spark.read.parquet(path).collect().map(_.toSeq).toSet

  /** Apply batches 0..n-1 in order; after each, replay a random earlier
    * batch (same id) — the fence (additive) or the merge itself
    * (idempotent/monotone) must make every replay a semantic no-op.
    */
  private def runSchedule(path: String, body: (DataFrame, Long) => Unit,
      batches: IndexedSeq[DataFrame]): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      body(b, i.toLong)
      val j = rnd.nextInt(i + 1)
      body(batches(j), j.toLong)
    }

  private def ordersBatch(): DataFrame = {
    val s = spark; import s.implicits._
    val n = 1 + rnd.nextInt(40)
    (1 to n).map { _ =>
      (f"2023-06-${1 + rnd.nextInt(10)}%02d 12:00:00",
        rnd.nextInt(100000) / 100.0)
    }.toDF("_1", "_2")
      .select(col("_1").cast("timestamp").as("o_orderdate"),
        col("_2").as("o_totalprice"))
  }

  test("additive law holds on random schedules with random same-id replays") {
    (1 to 3).foreach { rep =>
      val path = tmpStore(s"gold$rep")
      val batches = IndexedSeq.fill(6)(ordersBatch())
      runSchedule(path, GoldMaintain.maintainParquet(path) _, batches)
      val expected = GoldMaintain.dayGrainOf(batches.reduce(_ unionByName _))
        .collect().map(_.toSeq).toSet
      assert(snapshot(path) === expected, s"schedule $rep diverged")
    }
  }

  private def eventsBatch(): DataFrame = {
    val s = spark; import s.implicits._
    val n = 1 + rnd.nextInt(40)
    (1 to n).map { _ =>
      (rnd.nextInt(20).toLong,
        f"2024-0${1 + rnd.nextInt(6)}%01d-${1 + rnd.nextInt(28)}%02d 09:00:00")
    }.toDF("user_id", "ts")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
  }

  test("idempotent law holds on random schedules; new-id duplicates also converge") {
    (1 to 3).foreach { rep =>
      val path = tmpStore(s"bits$rep")
      val batches = IndexedSeq.fill(6)(eventsBatch())
      runSchedule(path, BitmapMaintain.maintainParquet(path) _, batches)
      // re-stamped redelivery: same data under NEW ids — no fence exists,
      // the OR-merge alone must absorb it
      batches.zipWithIndex.foreach { case (b, i) =>
        BitmapMaintain.maintainParquet(path)(b, (100 + i).toLong)
      }
      val expected = BitmapMaintain.dayBitsOf(batches.reduce(_ unionByName _))
        .collect().map(_.toSeq).toSet
      assert(snapshot(path) === expected, s"schedule $rep diverged")
    }
  }

  test("monotone law holds on random schedules; store is the exact key union") {
    (1 to 3).foreach { rep =>
      val path = tmpStore(s"keys$rep")
      val batches = IndexedSeq.fill(6)(eventsBatch())
      runSchedule(path,
        KeySetMaintain.maintainParquet(path, "user_id") _, batches)
      val expected = batches.reduce(_ unionByName _)
        .select("user_id").distinct().collect().map(_.toSeq).toSet
      assert(snapshot(path) === expected, s"schedule $rep diverged")
    }
  }
}
