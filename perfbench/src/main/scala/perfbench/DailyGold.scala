package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.analytics.Sessions
import graft.ingest.EventIngest
import graft.lake.Lake
import graft.serve.Jdbc

/** `daily_gold`: the reference's daily batch job in a closed loop with one
  * client. Set-up lands `days` days of seeded enriched events, several
  * files per day, through Lake.writePartitioned. Each op reads one day with
  * Lake.readPartition, builds the session and user gold, and serves
  * session_level, user_level and raw_data with Jdbc.overwrite into
  * in-memory Derby. The loop cycles through the days.
  */
object DailyGold {
  val days = 4
  val filesPerDay = 4
  val rowsPerChunk = 400
  val users = 600

  /** The analytics contract (user_id, ts, event_type, value) over the
    * enriched lake frame; price is cast explicitly.
    */
  def evShape(enriched: DataFrame): DataFrame =
    enriched.select(col("user_id"), col("event_time").as("ts"),
      col("event_type"), col("price").cast("double").as("value"))

  def dayOf(d: Int): String = Gen.baseDay.plusDays(d).toString

  /** Lands the seeded events: `filesPerDay` slices, each holding a chunk of
    * every day, so every day's partition gets several files.
    */
  def land(ctx: Ctx, lake: String): Unit = {
    val lines = for (f <- 0 until filesPerDay; d <- 0 until days;
      l <- Gen.ecommerceFile(ctx.seed, 3, f * days + d, rowsPerChunk, d, users).split('\n'))
      yield l
    val raw = ctx.spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING)
      .repartition(filesPerDay).toDF("v").select(col("v").cast("binary").as("value"))
    Lake.writePartitioned(EventIngest.pipeline(raw).withColumn("extracted_date", col("date")), lake)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val setups = (0 until 3).map { k =>
      val t0 = System.nanoTime()
      ctx.tracer.span("land", "datagen")(land(ctx, ctx.work.resolve(s"lake_$k").toString))
      Ctx.secondsSince(t0)
    }
    ctx.out("setup_data_s") = setups
    val lake = ctx.work.resolve("lake_2").toString
    val url = s"jdbc:derby:memory:gold${ctx.seed};create=true"
    val props = Ctx.derbyProps()

    def job(day: String): Long = ctx.tracer.span("daily_job", "analytics") {
      val landed = ctx.tracer.span("lake.read", "lake")(
        Lake.readPartition(spark, lake, "extracted_date", day))
      val ev = evShape(landed)
      ctx.tracer.span("serve.overwrite", "serve") {
        Jdbc.overwrite(Sessions.sessionLevelOf(ev), url, "session_level", props, ctx.cores)
        Jdbc.overwrite(Sessions.userLevelOf(ev), url, "user_level", props, ctx.cores)
        Jdbc.overwrite(landed, url, "raw_data", props, ctx.cores)
      }
      filesPerDay.toLong * rowsPerChunk
    }

    ctx.startTimed()
    // the first job of a fresh JVM is the cold one; the loop then runs warm
    val c0 = System.nanoTime()
    ctx.op(job(dayOf(0)))
    ctx.out("gold_cold_ms") = Ctx.secondsSince(c0) * 1000
    val t0 = System.nanoTime()
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    var rows = 0L
    var i = 1
    while (Ctx.secondsSince(t0) < ctx.seconds || lat.size < 3) {
      val s = System.nanoTime()
      ctx.op(job(dayOf(i % days))).foreach { n =>
        lat += Ctx.secondsSince(s) * 1000
        rows += n
      }
      i += 1
    }
    val wallS = Ctx.secondsSince(t0)
    ctx.endTimed()
    ctx.out("gold_job_ms") = lat.toSeq
    ctx.out("gold_rows_per_s") = rows / wallS
    ctx.layers("serve.rows_written") = spark.read.jdbc(url, "session_level", props).count() +
      spark.read.jdbc(url, "user_level", props).count() +
      spark.read.jdbc(url, "raw_data", props).count()
    if (ctx.traced) layerCalls(ctx, lake)

    // correctness, outside the timed region: the served tables are those of
    // the last job; they must equal a direct recompute of its day
    val last = dayOf((i - 1) % days)
    val landed = Lake.readPartition(spark, lake, "extracted_date", last)
    val sess = Sessions.sessionLevelOf(evShape(landed))
    val usr = Sessions.userLevelOf(evShape(landed))
    ctx.check("served session_level equals recompute",
      Check.sameRows(sess, spark.read.jdbc(url, "session_level", props), sess.columns.toSeq))
    ctx.check("served user_level equals recompute",
      Check.sameRows(usr, spark.read.jdbc(url, "user_level", props), usr.columns.toSeq))
    ctx.check("served raw_data equals the landed partition",
      Check.sameRows(landed, spark.read.jdbc(url, "raw_data", props), landed.columns.toSeq))
  }

  /** Lake read and each gold rollup alone into noop, per day. */
  def layerCalls(ctx: Ctx, lake: String): Unit = {
    def timed(name: String, layer: String)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      ctx.tracer.span(name, layer)(Ctx.noop(df))
      Ctx.secondsSince(t0)
    }
    val read = (0 until days).map(d => timed("lake.read", "lake")(
      Lake.readPartition(ctx.spark, lake, "extracted_date", dayOf(d))))
    val sess = (0 until days).map(d => timed("gold.session_level", "analytics")(
      Sessions.sessionLevelOf(evShape(Lake.readPartition(ctx.spark, lake, "extracted_date", dayOf(d))))))
    val usr = (0 until days).map(d => timed("gold.user_level", "analytics")(
      Sessions.userLevelOf(evShape(Lake.readPartition(ctx.spark, lake, "extracted_date", dayOf(d))))))
    ctx.layers("lake.read_s") = Ctx.median(read)
    ctx.layers("gold.session_level_s") = Ctx.median(sess)
    ctx.layers("gold.user_level_s") = Ctx.median(usr)
  }
}
