package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the role of the reference's `create_spark`
  * (/root/reference/spark_jobs/spark_stream.py:7-22) but tuned for a modern
  * Spark: AQE on, UTC session timezone, shuffle partitions sized to the
  * machine instead of the legacy default 200
  * (the reference ran 200 — see /root/reference/tmp/offsets/0 conf).
  *
  * ANSI mode is disabled: the reference ran PySpark 3.5 with ANSI off and
  * relies on permissive implicit casts (e.g. summing a string-typed price
  * column, spark_batch_job.py:48). We keep explicit casts in our own code but
  * pin the flag so semantics are stable across Spark upgrades.
  */
object GraftSession {

  /** Shared config applied to every session (local dev, Verify, Bench).
    * Registers [[graft.plans.GraftExtensions]]: the graft_cosine and
    * graft_jaccard SQL functions and the exact range, Jaccard and Hamming
    * join rewrite rules, which fire wherever their pattern matches.
    *
    * Every catalogue query runs on its caller's session and leaves that
    * session's conf as it found it: a per-query physical choice lives in
    * the plan (a rule, a join hint), never in session state.
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new graft.plans.GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.parquet.filterPushdown", "true")
    // Parquet TIMESTAMP(NANOS) (events.ts) is unreadable by Spark's vectorized
    // reader; read as long and convert in Tables.events (integer ns→µs).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.ui.enabled", "false")

  /** The data dir the driver-run mains read: `SPARK_GRAFT_SF_DIR`, sf0.1 by default. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The session of the driver-run mains (Bench, Verify, tools.Probe):
    * `local[SPARK_GRAFT_CPUS]` (4 by default) with as many shuffle
    * partitions, and the disk-backed memo tier (SessionMemo.durable) on
    * unless `SPARK_GRAFT_MEMO_DURABLE=false` or the JVM already sets the
    * `graft.memo.durable` property. A warm host then serves the
    * deterministic memo families from the fingerprinted parquet cache
    * instead of rebuilding them every JVM (the r11 cold-pass regression).
    */
  def driver(logLevel: String = "ERROR"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    sys.props.getOrElseUpdate("graft.memo.durable",
      sys.env.getOrElse("SPARK_GRAFT_MEMO_DURABLE", "true"))
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Untimed warm-up of the JVM, codegen and file-listing paths, so they
    * do not land on the first timed query. Runs a fixed cheap query (an
    * arbitrary catalogue pick could be an expensive one, double-counting
    * its work); a failure here is left to the timed runs to report.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try graft.SparkEntry.queries("q01_pricing_summary")(spark, sfDir).write
      .format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

  /** Local session used by tests and ad-hoc mains. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = configure(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", math.max(cores, 4).toString)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
