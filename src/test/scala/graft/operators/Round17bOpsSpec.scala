package graft.operators

import graft.SparkTestBase
import graft.core.Tables
import graft.functions.Num.dec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-17 second-wave equivalence pins (the Round17OpsSpec
  * discipline): every rewrite below restructures a declared query's
  * plan, so each operator is pinned BIT-EXACTLY against the exact form
  * it replaced (the old expression tree, copied verbatim from the
  * pre-rewrite sources) on gate data.
  */
class Round17bOpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // ---- q146: user entropy — window-sum n_events replaces the ut⋈tot join ----

  private def userEntropyOld(spark: SparkSession, sfDir: String,
      minEvents: Long = 20L, flagBelow: Double = 0.5): DataFrame = {
    val ut = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val tot = ut.groupBy(col("user_id")).agg(sum(col("c")).as("n_events"))
    val p = col("c").cast("double") / col("n_events")
    ut.join(tot, "user_id")
      .select(col("user_id"), col("n_events"),
        round(-p * log(p), 6).as("term"))
      .groupBy(col("user_id"))
      .agg(min(col("n_events")).as("n_events"),
        count(lit(1)).as("n_types"),
        round(sum(round(col("term") * 1e6).cast("long")).cast("double") / 1e6, 6)
          .as("entropy"))
      .select(col("user_id"), col("n_events"), col("n_types"), col("entropy"),
        (col("n_events") >= minEvents && col("entropy") < flagBelow)
          .cast("int").as("bot_like"))
  }

  test("q146 window-sum form is bit-identical to the join form") {
    assert(bits(graft.analytics.Funnels.userEntropy(spark, sf))
      == bits(userEntropyOld(spark, sf)))
  }

  // ---- q213: next-event backtest — (from, next, is_test) grain ----

  private def nextEventBacktestOld(spark: SparkSession, sfDir: String,
      trainDays: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_day", lead(to_date(col("ts")), 1).over(w))
      .where(col("next_type").isNotNull)
      .withColumnRenamed("event_type", "from_type")
    val d0 = Tables.events(spark, sfDir)
      .agg(min(to_date(col("ts"))).as("d0"))
    val tagged = pairs.crossJoin(broadcast(d0))
      .withColumn("is_test",
        col("next_day") > date_add(col("d0"), trainDays - 1))
      .select(col("from_type"), col("next_type"), col("is_test"))
    val mw = Window.partitionBy(col("from_type"))
      .orderBy(col("c").desc, col("next_type"))
    val model = tagged.where(!col("is_test"))
      .groupBy(col("from_type"), col("next_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(mw))
      .where(col("rn") === 1)
      .select(col("from_type"), col("next_type").as("predicted_type"))
    tagged.where(col("is_test"))
      .join(broadcast(model), Seq("from_type"))
      .groupBy(col("from_type"), col("predicted_type"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("next_type") === col("predicted_type"), 1L)
          .otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_test"), 6))
  }

  test("q213 grain form is bit-identical to the row-stream form") {
    assert(bits(graft.analytics.Funnels.nextEventBacktest(spark, sf))
      == bits(nextEventBacktestOld(spark, sf)))
  }

  // ---- q232: spearman — one 3-way-joined moment pass vs two rho branches ----

  private def spearmanActivityOfOld(ev: DataFrame): DataFrame = {
    val users = ev
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(to_date(col("ts"))).as("n_days"),
        sum((col("event_type") === "purchase").cast("long"))
          .as("n_purchases"))
      .localCheckpoint()
    def ranked(metric: String): DataFrame = {
      val d = users.groupBy(col(metric).as("v"))
        .agg(count(lit(1)).as("c"))
      graft.operators.RangedRank.withGlobalRank(d, Seq(col("v")),
          "vr", Seq("c" -> "cum")).df
        .select(col("v").as(metric),
          (lit(2) * (col("cum") - col("c") + 1) + col("c") - 1)
            .as(s"r2_$metric"))
    }
    def rho(x: String, y: String, name: String): DataFrame = {
      val rx = col(s"r2_$x")
      val ry = col(s"r2_$y")
      val s = users
        .join(broadcast(ranked(x)), Seq(x))
        .join(broadcast(ranked(y)), Seq(y))
        .agg(dec(count(lit(1))).as("n"),
          sum(dec(rx)).as("s1"), sum(dec(ry)).as("s2"),
          sum(dec(rx) * rx).as("s11"), sum(dec(ry) * ry).as("s22"),
          sum(dec(rx) * ry).as("s12"))
      s.select(lit(name).as("metric_pair"), col("n").cast("long").as("n_users"),
        round((col("n") * col("s12") - col("s1") * col("s2")).cast("double")
          / (sqrt((col("n") * col("s11") - col("s1") * col("s1")).cast("double"))
            * sqrt((col("n") * col("s22") - col("s2") * col("s2"))
              .cast("double"))), 6).as("spearman_rho"))
    }
    rho("n_events", "n_days", "events_vs_days")
      .unionAll(rho("n_events", "n_purchases", "events_vs_purchases"))
  }

  test("q232 single-pass moments are bit-identical to the two rho branches") {
    val ev = Tables.events(spark, sf)
    assert(bits(graft.analytics.Funnels.spearmanActivityOf(ev))
      == bits(spearmanActivityOfOld(ev)))
  }

  // ---- q255: user perplexity — (user, from, to) grain scoring ----

  private def userPerplexityOld(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("next_type").isNotNull)
      .select(col("user_id"), col("event_type").as("from_type"),
        col("next_type").as("to_type"))
    val counts = trans.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_ft"))
    val totals = counts.groupBy(col("from_type"))
      .agg(sum(col("n_ft")).as("n_from"))
    val model = counts.join(totals, "from_type")
      .select(col("from_type"), col("to_type"),
        round(-log(col("n_ft").cast("double") / col("n_from")) * 1e6, 0)
          .cast("long").as("s_fp"))
    trans.join(broadcast(model), Seq("from_type", "to_type"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_transitions"), sum(col("s_fp")).as("sum_fp"))
      .select(col("user_id"), col("n_transitions"),
        round(col("sum_fp").cast("double") / 1e6 / col("n_transitions"), 6)
          .as("mean_surprisal"))
  }

  test("q255 grain scoring is bit-identical to the row-stream scoring") {
    assert(bits(graft.analytics.Funnels.userPerplexity(spark, sf))
      == bits(userPerplexityOld(spark, sf)))
  }

  // ---- q300: Brown-Forsythe — global-window moments vs crossJoin(terms) ----

  private def leveneBrownForsytheOld(spark: SparkSession,
      sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val grain = Tables.events(spark, sfDir)
      .select(col("event_type"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val med = grain
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wAll))
      .where(col("cum") * 2 >= col("n_g"))
      .groupBy(col("event_type"))
      .agg(min(col("cents")).as("median_cents"))
    val dev = grain.join(broadcast(med), Seq("event_type"))
      .withColumn("z", abs(col("cents") - col("median_cents")))
    val perGroup = dev.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_g"),
        max(col("median_cents")).as("median_cents"),
        sum(col("z").cast(dec) * col("c")).as("s_g"),
        sum(col("z").cast(dec) * col("z") * col("c")).as("q_g"))
    val terms = perGroup.agg(
      sum(col("n_g")).cast("long").as("n_total"),
      count(lit(1)).as("k_groups"),
      sum(col("s_g")).cast(dec).as("s_all"),
      sum(col("q_g")).cast(dec).as("q_all"),
      sum(expr("CAST((s_g * s_g) div n_g AS DECIMAL(38,0))")).cast(dec).as("a_floor"))
    val num = col("a_floor").cast("double") -
      (col("s_all").cast("double") * col("s_all").cast("double")
        / col("n_total").cast("double"))
    val den = (col("q_all") - col("a_floor")).cast("double")
    val f = ((col("n_total").cast("double") - col("k_groups").cast("double"))
      / (col("k_groups").cast("double") - lit(1.0))) * (num / den)
    val globals = terms
      .withColumn("f_stat", round(f, 6))
      .select(col("n_total"), col("k_groups"), col("f_stat"))
    perGroup
      .select(col("event_type"), col("n_g").cast("long").as("n_events"),
        col("median_cents"),
        round(col("s_g").cast("double") / col("n_g").cast("double"), 6)
          .as("mean_abs_dev"))
      .crossJoin(broadcast(globals))
  }

  test("q300 window-moment form is bit-identical to the crossJoin form") {
    assert(bits(graft.analytics.Relational.leveneBrownForsythe(spark, sf))
      == bits(leveneBrownForsytheOld(spark, sf)))
  }

  // ---- q314: quality lift — totals as a window over the decile rollup ----

  private def qualityLiftDecilesOld(spark: SparkSession, sfDir: String,
      repThreshold: Double = 0.1): DataFrame = {
    val rep = graft.functions.Text.repetitionMetrics(col("text")).toMap
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        round(graft.functions.Text.modelScore(col("text")) * 1e6)
          .cast("long").as("score_fp"),
        when(rep("dup_bigram_frac") >= repThreshold, 1L).otherwise(0L)
          .as("is_rep"))
      .localCheckpoint()
    val rr = graft.operators.RangedRank.withGlobalRank(docs,
      Seq(col("score_fp"), col("doc_id")), "rn")
    val ranked = rr.df
      .withColumn("n", lit(rr.total))
      .withColumn("decile",
        expr("CAST((10 * rn + n - 1) div n AS INT)"))
    val byDecile = ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_rep")).as("n_pos"),
        min(col("score_fp")).as("min_score_fp"),
        max(col("score_fp")).as("max_score_fp"))
    val wCum = Window
      .orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = byDecile.agg(sum(col("n_pos")).as("total_pos"),
      sum(col("n_docs")).as("total_docs"))
    byDecile
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .withColumn("cum_docs", sum(col("n_docs")).over(wCum))
      .crossJoin(broadcast(totals))
      .select(col("decile"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_pos").cast("long").as("n_pos"),
        col("min_score_fp"), col("max_score_fp"),
        round(col("n_pos").cast("double") / col("n_docs").cast("double"), 6)
          .as("pos_rate"),
        round(col("cum_pos").cast("double") / col("total_pos").cast("double"), 6)
          .as("cum_gain"),
        round((col("cum_pos").cast("double") / col("cum_docs").cast("double"))
          / (col("total_pos").cast("double") / col("total_docs").cast("double")),
          6).as("cum_lift"))
  }

  test("q314 window-total form is bit-identical to the crossJoin form") {
    assert(bits(graft.analytics.TextAnalytics.qualityLiftDeciles(spark, sf))
      == bits(qualityLiftDecilesOld(spark, sf)))
  }

  // ---- q357: silhouette — conditional aggregate vs own/other branches ----

  private def silhouetteOfOld(a0: DataFrame): DataFrame = {
    val a = a0.withColumn("n2",
      graft.functions.Vectors.dotLong(col("vq"), col("vq")))
    val pairs = a.as("x").join(broadcast(a.as("y")),
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("i"), col("x.cell").as("ci"),
        col("y.cell").as("cj"),
        (col("x.n2") + col("y.n2")
          - graft.functions.Vectors.dotLong(col("x.vq"), col("y.vq")) * 2)
          .as("d2"))
    val grp = pairs.groupBy(col("i"), col("ci"), col("cj"))
      .agg(sum(col("d2")).as("s"), count(lit(1)).as("c"))
    val own = grp.where(col("ci") === col("cj"))
      .select(col("i"), expr("(s * 1000000) div c").as("a_fp"),
        (col("c") + 1).as("n_own"))
    val other = grp.where(col("ci") =!= col("cj"))
      .select(col("i"), expr("(s * 1000000) div c").as("bc"))
      .groupBy(col("i")).agg(min(col("bc")).as("b_fp"))
    a.select(col("vec_id").as("i"), col("cell"))
      .join(own, Seq("i"), "left")
      .join(other, Seq("i"), "left")
      .select(col("i").as("vec_id"), col("cell"),
        coalesce(col("n_own"), lit(1L)).as("n_own"),
        col("a_fp"), col("b_fp"),
        when(col("a_fp").isNull || col("b_fp").isNull
            || greatest(col("a_fp"), col("b_fp")) === 0L, lit(0L))
          .otherwise(when(col("b_fp") >= col("a_fp"),
            expr("((b_fp - a_fp) * 1000000) div greatest(a_fp, b_fp)"))
            .otherwise(-expr(
              "((a_fp - b_fp) * 1000000) div greatest(a_fp, b_fp)")))
          .as("s_fp"))
  }

  test("q357 conditional-aggregate form is bit-identical to the branch form") {
    val s = spark
    import s.implicits._
    // singleton cell (no own row), two-member cell, cross-cell minima,
    // plus the gate assignment itself
    val synth = Seq(
      (1L, 0, Seq(0L, 0L)), (2L, 0, Seq(3L, 4L)),
      (3L, 1, Seq(10L, 0L)), (4L, 2, Seq(0L, 10L)))
      .toDF("vec_id", "cell", "vq")
    for (a0 <- Seq(synth, Similarity.quantizedAssignment(spark, sf)))
      assert(bits(Similarity.silhouetteOf(a0)) == bits(silhouetteOfOld(a0)))
  }

  // ---- q199: dominant component — per-dim (sx, n) one-pass scatter ----

  private def dominantComponentOld(spark: SparkSession, sfDir: String,
      iters: Int = 8): DataFrame = {
    val vf = Tables.embeddingsSpread(spark, sfDir)
      .select(transform(col("embedding").cast("array<double>"),
        x => round(x * 1e6, 0).cast("long")).as("vf"))
    val n = vf.groupBy().agg(dec(count(lit(1))).as("n"))
    val sx = vf.select(posexplode(col("vf")))
      .groupBy(col("pos").as("i")).agg(sum(dec(col("col"))).as("sx"))
    val sxy = vf.select(col("vf"), posexplode(col("vf")))
      .select(col("vf"), col("pos").as("i"), col("col").as("xi"))
      .select(col("i"), col("xi"), posexplode(col("vf")))
      .groupBy(col("i"), col("pos").as("j"))
      .agg(sum(dec(col("xi") * col("col"))).as("sxy"))
    val m = sxy
      .join(broadcast(sx.select(col("i"), col("sx").as("sx_i"))), Seq("i"))
      .join(broadcast(sx.select(col("i").as("j"), col("sx").as("sx_j"))), Seq("j"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("n") * col("sxy") - col("sx_i") * col("sx_j")).as("m"))
    val cells = m.collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        BigInt(r.getDecimal(2).toBigInteger)).toMap
    val d = cells.keys.map(_._1).max + 1
    var v = Array.fill(d)(BigInt(1000000))
    for (_ <- 0 until iters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => cells.getOrElse((i, j), BigInt(0)) * v(j)).sum)
      val mx = w.map(_.abs).max
      v = w.map(x => x * 1000000 / mx)
    }
    val sess = spark
    import sess.implicits._
    v.zipWithIndex.toSeq.map { case (x, i) => (i, x.toLong) }
      .toDF("dim", "loading_fp")
      .select(col("dim"), col("loading_fp"),
        round(col("loading_fp").cast("double") / 1e6, 6).as("loading"))
  }

  test("q199 one-pass scatter is bit-identical to the separate-n form") {
    assert(bits(Similarity.dominantComponent(spark, sf))
      == bits(dominantComponentOld(spark, sf)))
  }

  // ---- q285: byteHistogram durable family — memo form ≡ direct build ----

  test("q285 memoized features equal the direct build") {
    assert(bits(Multimodal.byteHistogramFeatures(spark, sf))
      == bits(Multimodal.byteHistogramFeaturesBuild(spark, sf, 8)))
  }
}
