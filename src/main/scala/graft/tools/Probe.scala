package graft.tools

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.graftbridge.GraftBridge
import graft.SparkEntry
import graft.core.{GraftSession, Tables}

/** The query probe (dev tool). Runs on the driver session
  * ([[GraftSession.driver]]: data dir, cores and memo tier from the
  * environment) and shows the named catalogue queries, every query when
  * none is named, in one of three modes:
  *
  *  - `time`: per query one cold run, then [[WarmReps]] warm runs. Each
  *    run splits into build (constructing the frame), plan (analysis,
  *    optimization and physical planning of that frame; both driver only)
  *    and exec (noop write of a freshly built frame: the shape Bench
  *    times), with the jobs, stages and tasks of exec. The jobs count is
  *    the AQE round count. A header gives the data dir, cores, memo mode
  *    and each table's parquet row groups, the hard ceiling on scan
  *    parallelism for a single file.
  *  - `plan`: the formatted physical plan with AQE off. AQE wraps plans in
  *    AdaptiveSparkPlan before execution, hiding the codegen spans.
  *  - `metrics`: executes the query's OWN queryExecution (the noop sink
  *    would plan a second execution whose metrics are out of reach) and
  *    prints each physical operator with its populated SQL metrics. The
  *    r13 q75 diagnosis (AQE coalescing a compute-bound stage to one
  *    partition) was invisible in the formatted plan but one line here.
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.tools.Probe time q25_minhash_dedup"
  */
object Probe {
  val WarmReps = 3

  /** One timed run of `query`: `run` is "cold" or "warm1".."warmN". */
  case class Run(query: String, run: String, buildS: Double, planS: Double,
      execS: Double, jobs: Int, stages: Int, tasks: Int)

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    require(Set("time", "plan", "metrics")(mode),
      "usage: Probe <time|plan|metrics> [query ...]")
    val names = args.toSeq.drop(1)
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.driver()
    mode match {
      case "plan" => plan(spark, sfDir, names)
      case "time" => GraftSession.warmUp(spark, sfDir); time(spark, sfDir, names)
      case "metrics" => GraftSession.warmUp(spark, sfDir); metrics(spark, sfDir, names)
    }
    spark.stop()
  }

  private def catalogue(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    (if (names.isEmpty) all.keys.toSeq.sorted else names)
      .map(n => n -> all.getOrElse(n, sys.error(s"unknown query: $n")))
  }

  def time(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Run] = {
    println(s"[time] data=$sfDir cores=${spark.sparkContext.defaultParallelism} " +
      s"memo.durable=${sys.props.getOrElse("graft.memo.durable", "false")}")
    Tables.names.foreach { t =>
      try {
        val in = HadoopInputFile.fromPath(new Path(s"$sfDir/$t.parquet"),
          spark.sparkContext.hadoopConfiguration)
        val reader = ParquetFileReader.open(in)
        try {
          val groups = reader.getFooter.getBlocks.asScala
          println(f"[layout] $t%-12s rowGroups=${groups.size}%3d " +
            f"totalRows=${groups.map(_.getRowCount).sum}%9d bytes=${in.getLength}%10d")
        } finally reader.close()
      } catch { case NonFatal(e) => println(s"[layout] $t: ${e.getMessage}") }
    }
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    // counts are read once every event posted so far has been delivered
    def counts(): (Int, Int, Int) = {
      GraftBridge.drainListenerBus(spark.sparkContext)
      (jobs.get, stages.get, tasks.get)
    }
    spark.sparkContext.addSparkListener(counter)
    println(f"${"query"}%-28s ${"run"}%-5s ${"build"}%7s ${"plan"}%7s ${"exec"}%7s jobs stages tasks")
    try catalogue(names).flatMap { case (name, fn) =>
      try {
        val runs = (0 to WarmReps).map { i =>
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          val fresh = fn(spark, sfDir)
          val (j0, s0, k0) = counts()
          val t3 = System.nanoTime()
          fresh.write.format("noop").mode("overwrite").save()
          val t4 = System.nanoTime()
          val (j1, s1, k1) = counts()
          val r = Run(name, if (i == 0) "cold" else s"warm$i",
            (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t4 - t3) / 1e9, j1 - j0, s1 - s0, k1 - k0)
          println(f"$name%-28s ${r.run}%-5s ${r.buildS}%7.3f ${r.planS}%7.3f ${r.execS}%7.3f ${r.jobs}%4d ${r.stages}%6d ${r.tasks}%5d")
          r
        }
        // build + exec: what Bench times for one run
        val warm = runs.tail.map(r => r.buildS + r.execS).sorted
        println(f"[time] $name: cold ${runs.head.buildS + runs.head.execS}%.3f s, " +
          f"warm median ${warm(warm.size / 2)}%.3f s, min ${warm.head}%.3f s")
        runs
      } catch { case NonFatal(e) =>
        println(s"[time] $name FAILED: ${e.getMessage}")
        Nil
      }
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    // a one-off session of its own, so the caller's conf keeps AQE as it was
    val static = spark.newSession()
    static.conf.set("spark.sql.adaptive.enabled", "false")
    catalogue(names).foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      println(fn(static, sfDir).queryExecution.explainString(FormattedMode))
    }
  }

  private val shownMetrics = Set("numOutputRows", "pipelineTime", "numPartitions",
    "numCoalescedPartitions", "partitionDataSize", "dataSize", "collectTime",
    "buildTime", "broadcastTime", "shuffleBytesWritten", "shuffleRecordsWritten",
    "scanTime", "numFiles", "spillSize", "peakMemory", "sortTime",
    "aggTime", "avgHashProbe")

  def metrics(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    catalogue(names).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val t0 = System.nanoTime()
      val n = df.queryExecution.executedPlan.executeCollect().length
      println(f"\n========== $name: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows ==========")
      dump(df.queryExecution.executedPlan, 0)
    }

  private def dump(p: SparkPlan, indent: Int): Unit = {
    val m = p.metrics.collect {
      case (k, v) if shownMetrics(k) && v.value != 0 => s"$k=${v.value}"
    }.mkString(", ")
    println("  " * indent + p.nodeName + (if (m.isEmpty) "" else s"  [$m]"))
    p.children.foreach(dump(_, indent + 1))
    p match {
      case a: AdaptiveSparkPlanExec => dump(a.executedPlan, indent + 1)
      case q: QueryStageExec => dump(q.plan, indent + 1)
      case _ => ()
    }
  }
}
