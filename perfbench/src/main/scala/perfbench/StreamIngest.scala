package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.ingest.EventIngest
import graft.lake.Lake
import graft.model.Models
import graft.serve.Jdbc
import graft.streaming.Sessionize

/** `stream_ingest`: the reference's streaming job plus its historical
  * stateful query, through a file source with `maxFilesPerTrigger` as the
  * admission control.
  *
  *  (a) one cold micro-batch over a warm-up file: text files →
  *      EventIngest.pipeline → Lake.startStreamingSink;
  *  (b) the same stream, fed by one generator thread with seeded Poisson
  *      arrivals at a mean rate below capacity; each file's latency runs
  *      from when it was due to the end of the micro-batch that committed
  *      it, sampled over the last two thirds of the phase;
  *  (c) three backlogs, each published at once and drained;
  *  (d) replay web events through Sessionize.tumbling (10-minute
  *      watermark) → foreachBatch Jdbc.appendBatch into embedded Derby.
  */
object StreamIngest {
  val drains = 3
  val backlogFiles = 32
  val rowsPerFile = 250
  val filesPerTrigger = 8
  val pacedRows = 80
  val pacedIntervalMs = 250L
  val replayFiles = 4
  val replayPerFile = 500
  val users = 400
  /** A generator this late on any file invalidates the open loop. */
  val lateLimitMs = 250L

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val pacedFiles = math.max(12, (ctx.seconds * 900 / pacedIntervalMs).toInt)

    // set-up: generate the backlog and write the warm-up file and the
    // replay, three times over; the median is the set-up cost and the last
    // copy is the one streamed
    var backlog = IndexedSeq.empty[String]
    val setups = (0 until 3).map { k =>
      val t0 = System.nanoTime()
      ctx.tracer.span("generate", "datagen") {
        backlog = (0 until drains * backlogFiles).map(i =>
          Gen.ecommerceFile(ctx.seed, 1, i, rowsPerFile, 0, users))
        Gen.publish(ctx.dir(s"ecom_$k/warmup"), "warmup.json",
          Gen.ecommerceFile(ctx.seed, 0, 0, rowsPerFile, 0, users))
        writeReplay(ctx, ctx.dir(s"web_$k"))
      }
      Ctx.secondsSince(t0)
    }
    ctx.out("setup_data_s") = setups
    // the stream reads every subdirectory of ecomDir: the warm-up file's,
    // one per backlog (renamed into place whole, so a trigger sees all of a
    // backlog or none of it) and the paced files'
    val ecomDir = ctx.work.resolve("ecom_2")
    val ecomGlob = ecomDir.toString + "/*"
    val pacedDir = ctx.dir("ecom_2/paced")
    val webDir = ctx.work.resolve("web_2")
    val replay = Gen.webReplay(ctx.seed, replayFiles, replayPerFile, 3, users / 2, 0.04)
    val replayed = replay.init.map(_.size).sum
    val records = ((1 + drains * backlogFiles) * rowsPerFile + pacedFiles * pacedRows).toLong

    val lake = ctx.dir("lake").toString
    val lakeCkpt = ctx.work.resolve("ckpt_lake")
    val sessCkpt = ctx.work.resolve("ckpt_sessions")
    val url = s"jdbc:derby:memory:sessions${ctx.seed};create=true"
    val props = Ctx.derbyProps()

    ctx.startTimed()
    // (a) the cold first micro-batch
    val src = spark.readStream.option("maxFilesPerTrigger", filesPerTrigger.toLong)
      .text(ecomGlob).select(col("value").cast("binary").as("value"))
    val t0Ms = System.currentTimeMillis()
    val q = ctx.tracer.span("stream.start", "lake") {
      Lake.startStreamingSink(EventIngest.pipeline(src), lake, lakeCkpt.toString)
    }
    ctx.tracer.span("cold", "streaming")(q.processAllAvailable())
    ctx.out("first_batch_ms") = batchEnds(q.recentProgress).values.max - t0Ms

    // (b) paced open loop from one generator thread; Poisson arrivals keep
    // the files out of step with the micro-batches
    val offsets = Gen.arrivalGapsMs(ctx.seed, pacedFiles, pacedIntervalMs).scanLeft(0L)(_ + _).tail
    val due = new Array[Long](pacedFiles)
    val wrote = new Array[Long](pacedFiles)
    val gen = new Thread(() => {
      val start = System.currentTimeMillis()
      for (i <- 0 until pacedFiles) {
        due(i) = start + offsets(i)
        val text = Gen.ecommerceFile(ctx.seed, 2, i, pacedRows, 1, users)
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Gen.publish(pacedDir, f"paced_$i%05d.json", text)
        wrote(i) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    ctx.tracer.span("paced", "streaming")(q.processAllAvailable())
    ctx.attempted += 1 + pacedFiles

    // (c) the backlog drains, on a stream the paced phase has warmed
    ctx.out("drain_rps") = (0 until drains).map { d =>
      val tDrainMs = System.currentTimeMillis()
      val stage = ctx.dir(s"stage_$d")
      (d * backlogFiles until (d + 1) * backlogFiles).foreach { i =>
        Gen.publish(stage, f"backlog_$i%05d.json", backlog(i))
      }
      Files.move(stage, ecomDir.resolve(s"backlog_$d"), StandardCopyOption.ATOMIC_MOVE)
      ctx.tracer.span("drain", "streaming")(q.processAllAvailable())
      val drainEndMs = batchEnds(q.recentProgress).values.max
      backlogFiles * rowsPerFile / ((drainEndMs - tDrainMs) / 1000.0)
    }
    ctx.attempted += drains * backlogFiles
    val ingestProgress = q.recentProgress
    q.stop()

    val ends = batchEnds(ingestProgress)
    val batchOf = fileBatches(lakeCkpt)
    ctx.failed += 1 + pacedFiles + drains * backlogFiles - batchOf.size
    // the first third of the paced phase warms the micro-batch path; its
    // files are checked but not sampled
    val sampledFrom = offsets.last / 3
    val lat = (0 until pacedFiles).filter(offsets(_) >= sampledFrom).flatMap { i =>
      batchOf.get(f"paced_$i%05d.json").flatMap(ends.get).map(_ - due(i))
    }
    ctx.out("lake_latency_ms") = lat.map(_.toDouble)
    val lateMs = (0 until pacedFiles).map(i => wrote(i) - due(i))
    ctx.out("gen_late_ms_max") = lateMs.max
    ctx.out("gen_records") = records + replayed
    ctx.out("open_loop_valid") = lateMs.max <= math.max(lateLimitMs, pacedIntervalMs)
    val commits = (0 until pacedFiles).flatMap(i =>
      batchOf.get(f"paced_$i%05d.json").flatMap(ends.get).map(i -> _)).toMap
    ctx.layers("stream.backlog_files_max") = if (ends.isEmpty) 0 else ends.values.map { e =>
      commits.count { case (i, c) => due(i) < e && c >= e }
    }.max

    // (d) replay through the stateful sessionizer into Derby
    val appendBatch: (DataFrame, Long) => Unit = (df, _) =>
      ctx.tracer.span("serve.append", "serve") {
        Jdbc.appendBatch(df, url, "web_sessions", props, numPartitions = ctx.cores)
      }
    val web = spark.readStream.schema(Models.webEventSchema)
      .option("maxFilesPerTrigger", 1L).json(webDir.toString)
    val t1Ms = System.currentTimeMillis()
    val q2 = Sessionize.tumbling(web).writeStream.outputMode("append")
      .option("checkpointLocation", sessCkpt.toString)
      .foreachBatch(appendBatch).start()
    ctx.tracer.span("replay", "streaming")(q2.processAllAvailable())
    val sessProgress = q2.recentProgress
    q2.stop()
    ctx.attempted += replay.size
    val sessEnds = batchEnds(sessProgress)
    ctx.out("sessionize_rps") = replayed / ((sessEnds.values.max - t1Ms) / 1000.0)
    val webBatchOf = fileBatches(sessCkpt)
    ctx.failed += replay.size - webBatchOf.size
    ctx.endTimed()

    // traced, the stream layers come from the StreamingQueryListener
    val (ingestLayer, sessLayer) = ctx.listeners.map { l =>
      l.progress.events.asScala.toSeq.map(_.progress).partition(_.id == q.id)
    }.getOrElse((ingestProgress.toSeq, sessProgress.toSeq))
    streamLayers(ctx, ingestLayer, sessLayer)
    ctx.out("stream_batch_ms") = ingestProgress.toSeq
      .filter(_.numInputRows > 0).map(p => duration(p, "triggerExecution").toDouble)
    if (ctx.traced) layerCalls(ctx, ecomGlob, lake)

    // correctness, outside the timed region
    val files = Files.walk(ecomDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).map(_.toString).toSeq
    val direct = EventIngest.pipeline(spark.read.text(files: _*)
      .select(col("value").cast("binary").as("value"))).drop("extracted_date")
    val landed = spark.read.parquet(lake).drop("extracted_date")
    ctx.check("every generated record lands once",
      Some(landed.count()).filter(_ != records).map(n => s"$n rows landed, $records generated"))
    ctx.check("lake equals batch EventIngest.pipeline",
      Check.sameRows(direct, landed, direct.columns.toSeq))
    val expected = expectedSessions(spark, replay, webBatchOf, watermarks(sessCkpt))
    ctx.check("served sessions equal batch Sessionize.tumbling minus late events",
      Check.sameRows(expected, spark.read.jdbc(url, "web_sessions", props),
        expected.columns.toSeq))
  }

  /** Replay files get strictly increasing mtimes so the file source admits
    * them in order, one per micro-batch.
    */
  def writeReplay(ctx: Ctx, dir: Path): Unit = {
    val replay = Gen.webReplay(ctx.seed, replayFiles, replayPerFile, 3, users / 2, 0.04)
    val now = System.currentTimeMillis() - replay.size * 1000L
    replay.zipWithIndex.foreach { case (evs, i) =>
      Gen.publish(dir, f"web_$i%05d.json", evs.map(_.json).mkString("", "\n", "\n"),
        now + i * 1000L)
    }
  }

  def duration(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  /** Batch id → wall-clock end of the batch, for batches that ran. */
  def batchEnds(ps: Seq[StreamingQueryProgress]): Map[Long, Long] =
    ps.filter(p => p.durationMs.containsKey("addBatch")).map(p =>
      p.batchId -> (Instant.parse(p.timestamp).toEpochMilli + duration(p, "triggerExecution"))
    ).toMap

  /** Input file name → id of the batch that admitted it, from the file
    * source's own log under the checkpoint.
    */
  def fileBatches(ckpt: Path): Map[String, Long] = {
    val log = ckpt.resolve("sources").resolve("0")
    if (!Files.isDirectory(log)) return Map.empty
    val entry = """"path":"([^"]*)".*"batchId":(\d+)""".r
    Files.list(log).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  def streamLayers(ctx: Ctx, ingest: Seq[StreamingQueryProgress],
      sessions: Seq[StreamingQueryProgress]): Unit = {
    val all = (ingest ++ sessions).filter(_.durationMs.containsKey("addBatch"))
    def med(key: String) = Ctx.median(all.map(duration(_, key).toDouble))
    ctx.layers("stream.batches") = all.size
    ctx.layers("stream.latest_offset_ms") = med("latestOffset")
    ctx.layers("stream.query_planning_ms") = med("queryPlanning")
    ctx.layers("stream.add_batch_ms") = med("addBatch")
    ctx.layers("stream.wal_commit_ms") = med("walCommit")
    ctx.layers("stream.commit_offsets_ms") = med("commitOffsets")
    val ops = sessions.flatMap(_.stateOperators.toSeq)
    ctx.layers("state.rows_total") = if (ops.isEmpty) 0L else ops.map(_.numRowsTotal).max
    ctx.layers("state.memory_bytes") = if (ops.isEmpty) 0L else ops.map(_.memoryUsedBytes).max
    ctx.layers("state.rows_dropped_late") = ops.map(_.numRowsDroppedByWatermark).sum
    ctx.layers("state.update_ms") = ops.map(_.allUpdatesTimeMs).sum
    ctx.layers("state.commit_ms") = ops.map(_.commitTimeMs).sum
  }

  /** The module calls on their own, outside the timed region: decode alone
    * into noop, then decode plus a batch lake write.
    */
  def layerCalls(ctx: Ctx, ecomGlob: String, lake: String): Unit = {
    val spark = ctx.spark
    def decoded = EventIngest.pipeline(spark.read.text(ecomGlob)
      .select(col("value").cast("binary").as("value")))
    val decode = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      ctx.tracer.span("ingest.decode", "ingest")(Ctx.noop(decoded))
      Ctx.secondsSince(t0)
    }
    val write = (0 until 3).map { k =>
      val t0 = System.nanoTime()
      ctx.tracer.span("lake.write", "lake") {
        Lake.writePartitioned(decoded, ctx.work.resolve(s"lake_batch_$k").toString)
      }
      Ctx.secondsSince(t0)
    }
    ctx.layers("ingest.decode_s") = Ctx.median(decode)
    ctx.layers("lake.write_s") = math.max(0.0, Ctx.median(write) - Ctx.median(decode))
    val parts = Files.walk(java.nio.file.Paths.get(lake)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_spark_metadata"))
      .toSeq
    ctx.layers("lake.files_written") = parts.size
    ctx.layers("lake.bytes_written") = parts.map(Files.size).sum
  }

  /** Expected sessions: batch Sessionize.tumbling over the replayed events
    * minus the late ones, and minus the sentinel whose window never closes.
    * An event is late when its window had closed (window end ≤ watermark)
    * under the watermark of the batch before the one that admitted it:
    * Spark drops late input by the previous batch's watermark and evicts
    * state by the current one.
    */
  def expectedSessions(spark: SparkSession, replay: IndexedSeq[IndexedSeq[Gen.WebEvent]],
      batchOf: Map[String, Long], watermark: Map[Long, Long]): DataFrame = {
    import spark.implicits._
    val kept = replay.zipWithIndex.flatMap { case (evs, i) =>
      val wm = batchOf.get(f"web_$i%05d.json").map(b => watermark.getOrElse(b - 1, 0L))
        .getOrElse(Long.MaxValue)
      evs.filter(e => e.user != Gen.flushUser && (e.tsMs / 60000 + 1) * 60000 > wm)
    }
    Sessionize.tumbling(spark.read.schema(Models.webEventSchema).json(kept.map(_.json).toDS()))
  }

  /** Batch id → the watermark that batch ran under, from the offset log
    * under the checkpoint.
    */
  def watermarks(ckpt: Path): Map[Long, Long] = {
    val wm = """"batchWatermarkMs":(\d+)""".r
    Files.list(ckpt.resolve("offsets")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.forall(_.isDigit))
      .flatMap(f => wm.findFirstMatchIn(new String(Files.readAllBytes(f)))
        .map(m => f.getFileName.toString.toLong -> m.group(1).toLong))
      .toMap
  }
}
