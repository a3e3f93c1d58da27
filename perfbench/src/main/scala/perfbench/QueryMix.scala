package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import graft.SparkEntry

/** `query_mix`: a fixed slice of the SparkEntry catalogue over the bundled
  * sf0.01 tables, one client, noop sink. Pass 1 is cold (fresh JVM: codegen
  * and memo builds), three more let the JIT settle, and sampled warm passes
  * follow until the time is up, at least three. Every run orders its passes
  * the same way: the seed does not reach this workload, because the order
  * alone moved a warm pass by a fifth.
  */
object QueryMix {
  /** (query, the module that implements it). */
  val mix: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "analytics",
    "q11_session_level" -> "analytics",
    "q12_user_level" -> "analytics",
    "q22_dedup_exact" -> "operators",
    "q25_minhash_dedup" -> "operators",
    "q50_dedup_components" -> "operators",
    "q29_ann_bruteforce" -> "operators",
    "q285_media_features" -> "operators",
    "q65_range_join_rewrite" -> "plans",
    "q261_hamming_join_rewrite" -> "plans")

  val settlePasses = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val data = ctx.data
    // set-up: resolve every catalogue table (listing, footers, schema);
    // repeated, and the median is the set-up cost
    val setups = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      graft.core.Tables.names.foreach(t => graft.core.Tables.load(spark, data, t).schema)
      Ctx.secondsSince(t0)
    }
    ctx.out("setup_data_s") = setups

    val samples = scala.collection.mutable.LinkedHashMap[String, Vector[Double]]()
    def pass(p: Int, order: Seq[(String, String)]): Double = {
      val t0 = System.nanoTime()
      order.foreach { case (name, layer) =>
        val s = System.nanoTime()
        ctx.op(ctx.tracer.span(name, layer) {
          val df = ctx.tracer.span("build", layer)(SparkEntry.queries(name)(spark, data))
          ctx.tracer.span("execute", "core")(Ctx.noop(df))
        }).foreach { _ =>
          if (p > 0) samples(name) = samples.getOrElse(name, Vector()) :+ Ctx.secondsSince(s)
        }
      }
      Ctx.secondsSince(t0)
    }
    // the cold pass runs in list order, so each memo build lands on the
    // same first consumer and the JIT sees the same first profile in every
    // run; later passes take fixed shuffles, the same in every run
    def order(p: Int) = if (p == 0) mix else new scala.util.Random(p).shuffle(mix)
    def memo(): (Int, Long) = (spark.sparkContext.getPersistentRDDs.size,
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)

    ctx.startTimed()
    val cold = pass(0, order(0))
    // a fixed number of passes lets the JIT settle; they are run but not
    // sampled, so every run samples from the same point of the warm-up
    ctx.out("mix_settle_pass_s") = (1 to settlePasses).map(p => pass(-1, order(p)))
    val t0 = System.nanoTime()
    val warm = scala.collection.mutable.ArrayBuffer[Double]()
    while (Ctx.secondsSince(t0) < ctx.seconds || warm.size < 3)
      warm += pass(warm.size + 1, order(settlePasses + warm.size + 1))
    ctx.endTimed()
    val (rdds, bytes) = memo()
    ctx.out("mix_cold_pass_s") = cold
    ctx.out("mix_pass_s") = warm.toSeq
    ctx.out("query_s") = samples.toMap
    ctx.layers("memo.persisted_rdds") = rdds
    ctx.layers("memo.cached_bytes") = bytes

    // correctness, outside the timed region: every result as parquet plus
    // its oracle SQL; run.py compares them in DuckDB
    val outDir = ctx.dir("results")
    mix.foreach { case (name, _) =>
      SparkEntry.queries(name)(spark, data).coalesce(1).write.mode("overwrite")
        .parquet(outDir.resolve(name).toString)
    }
    val oracle = mix.map { case (name, _) => name -> SparkEntry.oracleSql(name) }
    Files.write(outDir.resolve("oracle_sql.json"),
      Json.write(Json.obj(oracle: _*)).getBytes(StandardCharsets.UTF_8))
  }
}
