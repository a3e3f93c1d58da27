package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel

class SessionMemoSpec extends SparkTestBase {

  /** What `key` recorded since `before`. */
  private def since(before: Map[String, SessionMemo.Stats], key: String) =
    SessionMemo.snapshot().getOrElse(key, SessionMemo.Stats.zero) -
      before.getOrElse(key, SessionMemo.Stats.zero)

  test("same session + key returns the same DataFrame; different keys build separately") {
    val s = spark
    import s.implicits._
    var builds = 0
    def build() = { builds += 1; Seq((1L, "a")).toDF("id", "v") }
    val a = SessionMemo(spark, "memo-spec-k1")(build())
    val b = SessionMemo(spark, "memo-spec-k1")(build())
    val c = SessionMemo(spark, "memo-spec-k2")(build())
    assert(a eq b, "same (session, key) must return the memoized instance")
    assert(!(a eq c))
    assert(builds === 2)
  }

  test("a different session never sees another session's entry") {
    val s = spark
    import s.implicits._
    val one = SessionMemo(spark, "memo-spec-iso")(Seq(1L).toDF("id"))
    val other = spark.newSession()
    var built = false
    val two = SessionMemo(other, "memo-spec-iso") {
      built = true
      val o = other
      import o.implicits._
      Seq(2L).toDF("id")
    }
    assert(built, "an unseen session must build its own entry")
    assert(!(one eq two))
    assert(one.collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(two.collect().map(_.getLong(0)).toSeq === Seq(2L))
  }

  test("memoized result is persisted so consumers share one computation") {
    val s = spark
    import s.implicits._
    val df = SessionMemo(spark, "memo-spec-persist")(Seq((1L, 2L)).toDF("a", "b"))
    assert(df.storageLevel.useMemory || df.storageLevel.useDisk,
      s"expected a persisted storage level, got ${df.storageLevel}")
  }

  test("a nested build records both keys; the outer self time excludes the inner build") {
    // 4 rows on 4 partitions: each job takes ≥ 200 ms. Distinct ranges, so
    // the checkpoint cannot read the inner memo's cached rows instead
    val slow = udf { (x: Long) => Thread.sleep(200); x }
    def slowRows(from: Long) =
      spark.range(from, from + 4, 1, 4).select(slow(col("id")).as("id"))
    val before = SessionMemo.snapshot()
    var innerSec, eagerSec = 0.0
    val t0 = System.nanoTime()
    SessionMemo(spark, "memo-spec-outer") {
      val ti = System.nanoTime()
      val inner = SessionMemo(spark, "memo-spec-inner")(slowRows(0))
      innerSec = (System.nanoTime() - ti) / 1e9
      // eager: its job runs here, before the memo's materializing count
      val te = System.nanoTime()
      val cp = slowRows(4).localCheckpoint(eager = true)
      eagerSec = (System.nanoTime() - te) / 1e9
      cp.union(inner)
    }
    val totalSec = (System.nanoTime() - t0) / 1e9
    val outer = since(before, "memo-spec-outer")
    val inner = since(before, "memo-spec-inner")
    assert(outer.builds === 1 && inner.builds === 1)
    assert(outer.failures === 0 && inner.failures === 0)
    assert(eagerSec >= 0.2 && outer.selfSec >= eagerSec,
      s"the eager checkpoint ($eagerSec s) must be charged to the outer " +
        s"build, which recorded ${outer.selfSec} s")
    assert(inner.selfSec <= innerSec)
    assert(math.abs(outer.selfSec + inner.selfSec - totalSec) < 0.1,
      s"outer ${outer.selfSec} + inner ${inner.selfSec} s must split the " +
        s"$totalSec s wall time")
  }

  test("a second call records a hit and no build") {
    val s = spark
    import s.implicits._
    SessionMemo(spark, "memo-spec-hit")(Seq(1L).toDF("id"))
    val before = SessionMemo.snapshot()
    SessionMemo(spark, "memo-spec-hit")(fail("a hit must not evaluate the builder"))
    val st = since(before, "memo-spec-hit")
    assert(st === SessionMemo.Stats.zero.copy(hits = 1))
  }

  test("a build on a newSession() child shows up in the JVM-wide snapshot") {
    val child = spark.newSession()
    SessionMemo.invalidate(child)
    val before = SessionMemo.snapshot()
    SessionMemo(child, "memo-spec-child")(child.range(3).toDF())
    assert(since(before, "memo-spec-child").builds === 1)
    SessionMemo.invalidate(child)
  }

  test("ofPlan keys on the canonicalized plan, not its hash") {
    def pick(v: Long) = spark.range(10).toDF().where(col("id") === v)
    // Long.hashCode folds the high word into the low one, so these two
    // literals — and the two plans' 32-bit semantic hashes — collide
    val far = (1L << 32) | 1L
    assert(pick(0L).queryExecution.analyzed.semanticHash() ===
      pick(far).queryExecution.analyzed.semanticHash())
    SessionMemo.invalidate(spark)
    val before = SessionMemo.snapshot()
    val a = SessionMemo.ofPlan("memo-spec-plan", pick(0L))
    val again = SessionMemo.ofPlan("memo-spec-plan", pick(0L)) // fresh exprIds
    val b = SessionMemo.ofPlan("memo-spec-plan", pick(far))
    assert(a eq again, "the same plan must share one entry")
    assert(!(a eq b), "colliding hashes must not share an entry")
    assert(a.count() === 1 && b.count() === 0)
    assert(since(before, "memo-spec-plan") ===
      SessionMemo.Stats.zero.copy(builds = 2, hits = 1,
        selfSec = since(before, "memo-spec-plan").selfSec))
    assert(SessionMemo.cachedKeys(spark) === Set("memo-spec-plan"))
    SessionMemo.invalidate(spark)
    assert(a.storageLevel === StorageLevel.NONE && b.storageLevel === StorageLevel.NONE)
  }

  test("Bench charges a run's memo builds to their keys, not to the run") {
    val sf = "/root/testdata/sf0.001"
    SessionMemo.invalidate(spark)
    val q50 = graft.Bench.timeQuery(spark, sf, "q50_dedup_components")
    assert(q50.ok)
    val built = q50.memo.filter(_._2.builds > 0)
    for (family <- Seq("minhashPairs|", "dedupComponents|"))
      assert(built.keys.exists(_.startsWith(family)), s"$family not in ${built.keys}")
    assert(built.values.forall(_.selfSec > 0))
    assert(!q50.memo.keys.exists(_.contains(sf)), "keys carry no sfDir")
    assert(q50.own >= 0 &&
      math.abs(q50.own + q50.memo.values.map(_.selfSec).sum - q50.raw) < 0.005)
    val q25 = graft.Bench.timeQuery(spark, sf, "q25_minhash_dedup")
    assert(q25.ok && q25.memo.values.forall(_.builds == 0), q25.memo)
    assert(q25.memo.keys.exists(_.startsWith("minhashPairs|")),
      "q25 must hit the pairs q50 built")
    assert(q25.own === q25.raw)
  }
}
