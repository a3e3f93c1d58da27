package graft

import graft.core.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
import org.apache.spark.sql.functions._

/** Layout-aware spread contract of [[Tables.documentsSpread]] /
  * [[Tables.embeddingsSpread]] (r13 verdict item 4): the pinned-count
  * repartition exists ONLY for gate-scale tables whose scan arrives in
  * fewer than half the session's shuffle partitions; a corpus-scale table
  * (many splits at 100 TB) must skip the exchange entirely. r14 moved the
  * split probe from `df.rdd.getNumPartitions` (a throwaway whole-plan RDD
  * lineage per call) to the physical plan's leaf FileSourceScan — this
  * spec pins the DECISION both ways so the probe rewrite is
  * behavior-preserving, and proves no job runs to make it.
  */
class TablesSpreadSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-spread")

  /** Synthetic sfDir holding only a documents table written as `files`
    * parquet files (tiny files never merge into one split: each carries
    * the openCost padding, so file count bounds split count from below
    * at this size).
    */
  private def mkDocs(files: Int): String = {
    val dir = tempDir("graft-spread").toString
    spark.range(512)
      .select(col("id").as("doc_id"),
        concat(lit("body of document "), col("id")).as("text"))
      .repartition(files)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def spreads(df: DataFrame): Seq[RepartitionByExpression] =
    df.queryExecution.optimizedPlan.collect {
      case r: RepartitionByExpression => r
    }

  test("single-split gate table gets the pinned-count spread by doc_id") {
    val df = Tables.documentsSpread(spark, mkDocs(1))
    val r = spreads(df)
    assert(r.nonEmpty, "a one-split scan must be repartitioned for " +
      s"compute-bound consumers:\n${df.queryExecution.optimizedPlan}")
    val target = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(r.head.optNumPartitions.contains(target),
      "the count must be PINNED (AQE's bytes-based coalescer would fold " +
        s"a sub-MB exchange back to one partition): ${r.head}")
  }

  test("multi-split corpus-shaped table skips the exchange entirely") {
    val target = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val df = Tables.documentsSpread(spark, mkDocs(target * 2))
    assert(spreads(df).isEmpty,
      "an already-parallel scan must NOT pay a corpus-wide exchange:\n" +
        s"${df.queryExecution.optimizedPlan}")
  }

  test("exchange-bearing input still probes the scan leaf (AQE must not hide it)") {
    // r14 advice 1: the probe used executedPlan, where any plan with an
    // exchange gets wrapped in AdaptiveSparkPlanExec (a LEAF that hides
    // the FileSourceScan), silently — and cacheably — skipping the spread.
    // The helper's contract is "use unconditionally", so a one-split scan
    // must be detected even under an aggregate's exchange.
    val dir = mkDocs(1)
    val withExchange = Tables.documents(spark, dir)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val df = Tables.spreadBy(spark, withExchange, "doc_id")
    assert(spreads(df).nonEmpty,
      "a one-split scan under an exchange must still be spread:\n" +
        s"${df.queryExecution.optimizedPlan}")
    // and the corpus-shaped variant must still skip under an exchange
    val target = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val wide = Tables.documents(spark, mkDocs(target * 2))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    assert(spreads(Tables.spreadBy(spark, wide, "doc_id")).isEmpty,
      "an already-parallel scan must not be spread just because an " +
        "exchange sits above it")
  }

  test("the split probe runs no Spark job beyond the load itself") {
    val sc = spark.sparkContext
    val dir = mkDocs(1) // fixture write runs jobs; measure from here
    // count via a listener, not statusTracker.getJobIdsForGroup: the
    // tracker retains a BOUNDED job list, so late in a long suite its
    // length can DROP between two reads (eviction) and the delta goes
    // negative (r17 flake: load=-99)
    val started = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet(): Unit
    })
    def jobs(f: => Unit): Int = {
      Thread.sleep(200) // drain in-flight listener events
      val b = started.get()
      f
      Thread.sleep(200)
      started.get() - b
    }
    // a plain load may run schema-inference jobs; the spread PROBE
    // (analyzed-leaf lookup + physical split count) must add none
    val loadJobs = jobs {
      Tables.documents(spark, dir).queryExecution.optimizedPlan: Unit
    }
    val spreadJobs = jobs {
      Tables.documentsSpread(spark, dir).queryExecution.optimizedPlan: Unit
    }
    assert(spreadJobs <= loadJobs,
      s"the spread probe must not add jobs (load=$loadJobs, spread=$spreadJobs)")
  }
}
