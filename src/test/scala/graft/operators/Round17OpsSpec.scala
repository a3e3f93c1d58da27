package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Round-17 equivalence pins: every optimization this round restructures
  * a declared query's plan, so each rewritten operator is pinned
  * BIT-EXACTLY against the exact form it replaced (the old expression
  * tree, copied verbatim into this spec), on gate data and on
  * adversarial synthetic frames.
  */
class Round17OpsSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  // ---- q38: grain/window exact-percentile rewrite ----

  /** The exact aggregate form q38 shipped with through r16. */
  private def percentileAggForm(li: DataFrame): DataFrame =
    li.groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_price"),
        round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95_price"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"))

  private def liFrame(rows: Seq[(String, java.lang.Double, java.lang.Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
  }

  test("q38 grain rewrite is bit-identical to the percentile aggregate: gate data") {
    val li = graft.core.Tables.lineitem(spark, sf)
    assert(bits(graft.analytics.Relational.exactPercentilesByFlag(li))
      == bits(percentileAggForm(li)))
  }

  test("q38 grain rewrite is bit-identical to the percentile aggregate: adversarial") {
    val rnd = new scala.util.Random(17)
    val adversarial: Seq[(String, java.lang.Double, java.lang.Double)] =
      // interpolating group (N=10: pos 4.5 / 8.55)
      (1 to 10).map(i => ("A", java.lang.Double.valueOf(i.toDouble),
        java.lang.Double.valueOf((11 - i).toDouble))) ++
      // single value (every percentile = it)
      Seq(("B", java.lang.Double.valueOf(42.5), java.lang.Double.valueOf(7.0))) ++
      // all values equal (lowerKey == higherKey branch)
      (1 to 5).map(_ => ("C", java.lang.Double.valueOf(3.25),
        java.lang.Double.valueOf(3.25))) ++
      // integral positions (N=21: (N-1)*0.5 and (N-1)*0.95 both integral)
      (0 to 20).map(i => ("D", java.lang.Double.valueOf(i * 0.1),
        java.lang.Double.valueOf(i.toDouble))) ++
      // heavy ties from a tiny domain (boundaries land inside runs)
      (1 to 50).map(i => ("E", java.lang.Double.valueOf((i % 3).toDouble),
        java.lang.Double.valueOf((i % 2).toDouble))) ++
      // one column entirely NULL in a group
      (1 to 4).map(i => ("F", null: java.lang.Double,
        java.lang.Double.valueOf(i.toDouble))) ++
      // negatives and non-terminating binary fractions
      Seq(("G", java.lang.Double.valueOf(-1.0 / 3.0), java.lang.Double.valueOf(0.1)),
        ("G", java.lang.Double.valueOf(-7.77), java.lang.Double.valueOf(0.2)),
        ("G", java.lang.Double.valueOf(2.0 / 3.0), java.lang.Double.valueOf(0.3)))
    val randomized = (1 to 2000).map { _ =>
      (s"R${rnd.nextInt(5)}",
        java.lang.Double.valueOf(math.rint(rnd.nextDouble() * 1e4) / 100),
        java.lang.Double.valueOf((1 + rnd.nextInt(50)).toDouble))
    }
    val df = liFrame(adversarial ++ randomized).repartition(7)
    assert(bits(graft.analytics.Relational.exactPercentilesByFlag(df))
      == bits(percentileAggForm(df)))
  }

  // ---- q320: collect_set distinct rewrite ----

  test("q320 set-form audit equals the countDistinct form") {
    def audit(li: DataFrame, kd: org.apache.spark.sql.Column): DataFrame =
      li.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("k"), kd.as("kd"),
          min(col("l_linenumber")).cast("long").as("mn"),
          max(col("l_linenumber")).cast("long").as("mx"))
        .agg(count(lit(1)).as("n_orders_with_lines"),
          sum(when(col("kd") === col("k") && col("mn") === 1
            && col("mx") === col("k"), 1L).otherwise(0L)).as("n_dense"),
          sum(when(col("kd") === col("k")
            && (col("mn") =!= 1 || col("mx") =!= col("k")), 1L).otherwise(0L))
            .as("n_gapped"),
          sum(when(col("kd") =!= col("k"), 1L).otherwise(0L))
            .as("n_dup_positions"))
    val s = spark
    import s.implicits._
    // dense, gapped (no 1 / holes), duplicated positions, single-line
    val synth = Seq((1L, 1), (1L, 2), (1L, 3), (2L, 2), (2L, 3), (3L, 1),
      (3L, 1), (3L, 2), (4L, 1), (5L, 1), (5L, 3), (5L, 5))
      .toDF("l_orderkey", "l_linenumber")
    for (li <- Seq(synth, graft.core.Tables.lineitem(spark, sf)
        .select(col("l_orderkey"), col("l_linenumber")))) {
      assert(bits(audit(li,
          size(collect_set(col("l_linenumber"))).cast("long")))
        == bits(audit(li, countDistinct(col("l_linenumber")))))
    }
    // the shipped query end-to-end
    assert(bits(graft.analytics.Relational.linenumberAudit(spark, sf))
      == bits(audit(graft.core.Tables.lineitem(spark, sf),
        countDistinct(col("l_linenumber")))))
  }

  // ---- q290: key-grain fkIntegrity rewrite ----

  test("q290 key-grain relation audit equals the row-stream form") {
    // the pre-r17 row-stream rel(), verbatim
    def relOld(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame = {
      val pkeys = parent.select(col(pk).as("k"), lit(1).as("__p"))
      val joined = child.select(col(fk).as("k"))
        .join(pkeys, Seq("k"), "left")
      val childAgg = joined.agg(
        count(lit(1)).as("n_child"),
        count(when(col("k").isNull, 1)).as("n_null_fk"),
        countDistinct(col("k")).as("n_child_keys"),
        count(when(col("k").isNotNull && col("__p").isNull, 1))
          .as("n_orphan_rows"),
        countDistinct(when(col("__p").isNotNull, col("k")))
          .as("n_referenced_parent"))
      val parentAgg = pkeys.agg(count(lit(1)).as("n_parent"))
      childAgg.crossJoin(broadcast(parentAgg))
        .select(lit(name).as("relation"), col("n_child"), col("n_null_fk"),
          col("n_child_keys"), col("n_orphan_rows"), col("n_parent"),
          col("n_referenced_parent"))
    }
    val s = spark
    import s.implicits._
    // orphans, null FKs, duplicate FKs, unreferenced parents
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), None, None)
      .toDF("fk")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val expected = relOld("synth", child, "fk", parent, "pk")
    val customer = graft.core.Tables.customer(spark, sf)
    val orders = graft.core.Tables.orders(spark, sf)
    val oldFull = Seq(
      relOld("orders.o_custkey->customer", orders, "o_custkey", customer,
        "c_custkey"),
      relOld("synth", child, "fk", parent, "pk")).reduce(_.unionAll(_))
    // end-to-end: the shipped query vs the old form over the gate tables
    val lineitem = graft.core.Tables.lineitem(spark, sf)
    val nationT = graft.core.Tables.nation(spark, sf)
    val supplier = graft.core.Tables.supplier(spark, sf)
    val oldQ290 = Seq(
      relOld("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey"),
      relOld("lineitem.l_orderkey->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
      relOld("lineitem.l_partkey->part", lineitem, "l_partkey",
        graft.core.Tables.part(spark, sf), "p_partkey"),
      relOld("lineitem.l_suppkey->supplier", lineitem, "l_suppkey", supplier, "s_suppkey"),
      relOld("customer.c_nationkey->nation", customer, "c_nationkey", nationT, "n_nationkey"),
      relOld("supplier.s_nationkey->nation", supplier, "s_nationkey", nationT, "n_nationkey"),
      relOld("nation.n_regionkey->region", nationT, "n_regionkey",
        graft.core.Tables.region(spark, sf), "r_regionkey")
    ).reduce(_.unionAll(_))
    assert(bits(graft.analytics.Relational.fkIntegrity(spark, sf))
      == bits(oldQ290))
    assert(expected.collect().toSeq.map(_.toString).sorted
      == Seq(Row("synth", 6L, 2L, 3L, 1L, 3L, 2L).toString).sorted)
    assert(oldFull.count() == 2)
  }

  // ---- q353: single-pass naive-Bayes CV ----

  test("q353 single-pass CV equals the multi-pass form") {
    // the pre-r17 multi-pass implementation, verbatim
    def naiveBayesCvOld(documents: DataFrame, folds: Int = 5): DataFrame = {
      import graft.functions.Hashing
      val docs = documents.withColumn("fold",
        (Hashing.stableHash32(concat(lit("cv:"), col("doc_id").cast("string")))
          % folds).cast("int"))
      val dw = docs
        .select(col("doc_id"), col("lang"), col("fold"),
          explode(split(col("text"), " ")).as("w"))
        .where(col("w") =!= "")
      val docWord = dw.groupBy(col("doc_id"), col("fold"), col("w"))
        .agg(count(lit(1)).as("cnt"))
      val foldIds = docs.sparkSession.range(folds.toLong)
        .select(col("id").cast("int").as("fold"))
      val gTok = dw.groupBy(col("lang").as("cls")).agg(count(lit(1)).as("g_t"))
      val fTok = dw.groupBy(col("fold"), col("lang").as("cls"))
        .agg(count(lit(1)).as("f_t"))
      val trTok = foldIds.crossJoin(broadcast(gTok))
        .join(fTok, Seq("fold", "cls"), "left")
        .select(col("fold"), col("cls"),
          (col("g_t") - coalesce(col("f_t"), lit(0L))).as("t_c"))
      val gWord = dw.groupBy(col("lang").as("cls"), col("w"))
        .agg(count(lit(1)).as("g_cw"))
      val fWord = dw.groupBy(col("fold"), col("lang").as("cls"), col("w"))
        .agg(count(lit(1)).as("f_cw"))
      val vocab = dw.select(col("w")).distinct()
      val vsz = vocab.agg(count(lit(1)).as("vsz"))
      val trWord = foldIds.crossJoin(broadcast(vocab.crossJoin(broadcast(gTok
          .select(col("cls"))))))
        .join(gWord, Seq("cls", "w"), "left")
        .join(fWord, Seq("fold", "cls", "w"), "left")
        .select(col("fold"), col("cls"), col("w"),
          (coalesce(col("g_cw"), lit(0L)) - coalesce(col("f_cw"), lit(0L)))
            .as("cw"))
      val gDoc = documents.groupBy(col("lang").as("cls"))
        .agg(count(lit(1)).as("g_n"))
      val fDoc = docs.groupBy(col("fold"), col("lang").as("cls"))
        .agg(count(lit(1)).as("f_n"))
      val nAll = documents.agg(count(lit(1)).as("n_docs"))
      val fAll = docs.groupBy(col("fold")).agg(count(lit(1)).as("f_docs"))
      val prior = foldIds.crossJoin(broadcast(gDoc))
        .join(fDoc, Seq("fold", "cls"), "left")
        .crossJoin(broadcast(nAll)).join(broadcast(fAll), Seq("fold"))
        .select(col("fold"), col("cls"),
          round(round(log((col("g_n") - coalesce(col("f_n"), lit(0L)))
              .cast("double")
            / (col("n_docs") - col("f_docs")).cast("double")), 6) * 1e6)
            .cast("long").as("prior_fp"))
      val model = trWord.join(trTok, Seq("fold", "cls"))
        .crossJoin(broadcast(vsz))
        .select(col("fold"), col("cls"), col("w"),
          round(round(log((col("cw") + 1).cast("double")
            / (col("t_c") + col("vsz")).cast("double")), 6) * 1e6)
            .cast("long").as("w_fp"))
      val scores = docWord.join(broadcast(model), Seq("fold", "w"))
        .groupBy(col("doc_id"), col("fold"), col("cls"))
        .agg(sum(col("cnt") * col("w_fp")).as("like_fp"))
        .join(broadcast(prior), Seq("fold", "cls"))
        .select(col("doc_id"), col("fold"), col("cls"),
          (col("like_fp") + col("prior_fp")).as("score_fp"))
      val wb = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score_fp").desc, col("cls"))
      val pred = scores.withColumn("rn", row_number().over(wb))
        .where(col("rn") === 1)
        .join(docs.select(col("doc_id"), col("lang").as("actual")),
          Seq("doc_id"))
        .select(col("fold"),
          when(col("cls") === col("actual"), 1L).otherwise(0L).as("ok"))
      val perFold = pred.groupBy(col("fold"))
        .agg(count(lit(1)).as("n_test"), sum(col("ok")).as("n_correct"))
      perFold
        .unionByName(pred.groupBy(lit(-1).cast("int").as("fold"))
          .agg(count(lit(1)).as("n_test"), sum(col("ok")).as("n_correct")))
        .select(col("fold"), col("n_test"), col("n_correct"),
          round(col("n_correct").cast("double")
            / col("n_test").cast("double"), 6).as("accuracy"))
    }
    val documents = graft.core.Tables.documents(spark, sf)
    assert(bits(graft.analytics.TextAnalytics.naiveBayesCvOf(documents))
      == bits(naiveBayesCvOld(documents)))
  }

  // ---- q217: single-evaluation mutual nearest neighbors ----

  test("q217 count-2 mutuality equals the best-edge self-join form") {
    // the pre-r17 union + self-join implementation, verbatim
    def mutualOld(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val av = graft.core.Tables.embeddingsSpread(spark, sf)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .join(Similarity.ivfAssignTrained(spark, sf)
          .select(col("vec_id"), col("cell")), "vec_id")
      val pairs = av.as("a").join(av.as("b"),
          col("a.cell") === col("b.cell")
            && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec1"), col("b.vec_id").as("vec2"),
          round(graft.functions.Vectors.cosine(col("a.v"), col("b.v")), 4)
            .as("cosine"))
      val directed = pairs
        .select(col("vec1").as("src"), col("vec2").as("dst"), col("cosine"))
        .unionByName(pairs
          .select(col("vec2").as("src"), col("vec1").as("dst"),
            col("cosine")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("cosine").desc, col("dst"))
      val best = directed.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("src"), col("dst"), col("cosine"))
      best.as("x").join(best.as("y"),
          col("x.dst") === col("y.src") && col("x.src") === col("y.dst") &&
            col("x.src") < col("x.dst"))
        .select(col("x.src").as("vec1"), col("x.dst").as("vec2"),
          col("x.cosine").as("cosine"))
    }
    assert(bits(Similarity.mutualNearestNeighbors(spark, sf))
      == bits(mutualOld(spark)))
  }

  // ---- q190: single-evaluation bounce/exit rates ----

  test("q190 melted entry/exit rollup equals the two-groupBy form") {
    import org.apache.spark.sql.expressions.Window
    // the pre-r17 two-aggregate + full-outer implementation, verbatim
    def bounceOld(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val perSession = graft.core.Tables.events(spark, sf)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(
          min_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("entry_type"),
          max_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("exit_type"),
          count(lit(1)).as("n_events"))
      val entries = perSession.groupBy(col("entry_type").as("event_type"))
        .agg(count(lit(1)).as("entry_sessions"),
          sum(when(col("n_events") === 1, 1L).otherwise(0L))
            .as("bounce_sessions"))
      val exits = perSession.groupBy(col("exit_type").as("event_type"))
        .agg(count(lit(1)).as("exit_sessions"))
      entries.join(exits, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("entry_sessions"), lit(0L)).as("entry_sessions"),
          coalesce(col("exit_sessions"), lit(0L)).as("exit_sessions"),
          coalesce(col("bounce_sessions"), lit(0L)).as("bounce_sessions"))
        .withColumn("n_total",
          sum(col("entry_sessions")).over(Window.partitionBy()))
        .select(col("event_type"), col("entry_sessions"),
          col("exit_sessions"), col("bounce_sessions"),
          when(col("entry_sessions") === 0, lit(null).cast("double"))
            .otherwise(round(col("bounce_sessions").cast("double")
              / col("entry_sessions"), 6)).as("bounce_rate"),
          round(col("entry_sessions").cast("double") / col("n_total"), 6)
            .as("entry_share"))
    }
    assert(bits(graft.analytics.Sessions.bounceExitRates(spark, sf))
      == bits(bounceOld(spark)))
  }

  // ---- q363: day-grain driver-solve median polish ----

  test("q363 driver-solve median polish equals the distributed form") {
    import org.apache.spark.sql.expressions.Window
    // the pre-r17 distributed window/checkpoint implementation, verbatim
    def medianPolishOld(orders: DataFrame): DataFrame = {
      val daily = orders
        .groupBy(to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
          .as("cents"))
      val spine = daily
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("d0"), explode(sequence(col("d0"), col("d1"))).as("day"))
        .join(daily, Seq("day"), "left")
        .select(col("d0"), col("day"),
          coalesce(col("cents"), lit(0L)).as("x"))
      def medByKey(df: DataFrame, key: String): DataFrame = {
        val w = Window.partitionBy(col(key)).orderBy(col("v"), col("day"))
        df.withColumn("rr", row_number().over(w).cast("long"))
          .join(broadcast(df.groupBy(col(key))
            .agg(count(lit(1)).as("nn"))), Seq(key))
          .where(col("rr") === expr("(nn + 1) div 2")
            || col("rr") === expr("(nn + 2) div 2"))
          .groupBy(col(key))
          .agg(expr("(sum(v) * (3 - count(1))) div 2").as("med"))
      }
      var cur = spine
        .select((datediff(col("day"), col("d0")) % 7).as("dow"),
          (datediff(col("day"), col("d0")).cast("long") / 7).cast("long")
            .as("wk"),
          col("day"), (col("x") * 16).as("v"))
        .localCheckpoint()
      var rowEff: DataFrame = null
      for (_ <- 1 to 2) {
        val rm = medByKey(cur, "dow")
        cur = cur.join(broadcast(rm), Seq("dow"))
          .select(col("dow"), col("wk"), col("day"),
            (col("v") - col("med")).as("v")).localCheckpoint()
        rowEff = if (rowEff == null) rm
          else rowEff.withColumnRenamed("med", "m0")
            .join(rm, Seq("dow"))
            .select(col("dow"), (col("m0") + col("med")).as("med"))
        val cm = medByKey(cur, "wk")
        cur = cur.join(broadcast(cm), Seq("wk"))
          .select(col("dow"), col("wk"), col("day"),
            (col("v") - col("med")).as("v")).localCheckpoint()
      }
      cur.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("v"))).as("sum_abs_resid_x16"),
          max(abs(col("v"))).as("max_abs_resid_x16"))
        .join(broadcast(rowEff.withColumnRenamed("med", "row_eff_x16")),
          Seq("dow"))
        .select(col("dow").cast("int").as("dow"), col("n_days"),
          col("row_eff_x16"), col("sum_abs_resid_x16"),
          col("max_abs_resid_x16"))
    }
    val orders = graft.core.Tables.orders(spark, sf)
    assert(bits(graft.analytics.Relational.medianPolishOf(spark, orders))
      == bits(medianPolishOld(orders)))
    // synthetic span with sparse days (zero-filled spine), negative
    // residual paths and tie-heavy values
    val s = spark
    import s.implicits._
    val synth = (0 until 40).filter(i => i % 3 != 1).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-${i % 28 + 1}%02d 00:00:00"),
        (i % 5) * 10.0 + (if (i % 7 == 0) 900.0 else 0.0))
    }.toDF("o_orderdate", "o_totalprice")
    assert(bits(graft.analytics.Relational.medianPolishOf(spark, synth))
      == bits(medianPolishOld(synth)))
  }

  // ---- q360: one-pass dims aggregate with derived global centroid ----

  test("q360 derived global centroid equals the second-pass form") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(360)
    val a = (1 to 300).map { i =>
      (i.toLong, (i % 7).toLong,
        Array.fill(8)((rnd.nextInt(4001) - 2000).toLong))
    }.toDF("vec_id", "cell", "vq")
    // pre-r17 second-pass global centroid, verbatim
    def oldDispersion(a: DataFrame): DataFrame = {
      val dims = a.select(col("cell"), posexplode(col("vq")).as(Seq("dim", "x")))
      def centroidOf(grouped: DataFrame): DataFrame = grouped
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          e => e.getField("m")).as("cv"))
      val cents = centroidOf(dims.groupBy(col("cell"), col("dim"))
        .agg(expr("sum(x) div count(1)").as("m")))
      val global = centroidOf(dims.select(lit(-1L).as("cell"), col("dim"),
          col("x"))
        .groupBy(col("cell"), col("dim"))
        .agg(expr("sum(x) div count(1)").as("m")))
        .select(col("cv").as("gv"))
      def d2(u: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
        aggregate(zip_with(u, v, (p, q) => (p - q) * (p - q)), lit(0L),
          (acc, e) => acc + e)
      val wss = a.join(broadcast(cents), Seq("cell"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_c"), sum(d2(col("vq"), col("cv"))).as("wss_c"))
      val perCell = wss.join(broadcast(cents), Seq("cell"))
        .crossJoin(broadcast(global))
        .select(col("cell"), col("n_c"), col("wss_c"),
          (col("n_c") * d2(col("cv"), col("gv"))).as("bgd_c"))
      val tot = perCell.agg(sum(col("wss_c")).as("wss"),
        sum(col("bgd_c")).as("bgd"), count(lit(1)).as("k"),
        sum(col("n_c")).as("n"))
      perCell.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_c"), col("wss_c"), col("bgd_c"),
          col("k"), col("n"),
          round((col("bgd").cast("double") * (col("n") - col("k"))
              .cast("double"))
            / (col("wss").cast("double") * (col("k") - 1).cast("double")), 6)
            .as("ch_index"))
    }
    assert(bits(Similarity.clusterDispersionOf(a)) == bits(oldDispersion(a)))
  }

  // ---- q148: tagged single-pass item co-occurrence ----

  test("q148 tagged basket explode equals the four-pass self-join form") {
    // the pre-r17 four-evaluation implementation, verbatim
    def cooccurOld(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val items = graft.core.Tables.events(spark, sf)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          get_json_object(col("props"), "$.k").cast("int").as("item"))
        .where(col("item").isNotNull)
        .distinct()
      val tot = items.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val ic = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      val pairs = items.as("a")
        .join(items.as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.day") === col("b.day")
            && col("a.item") < col("b.item"))
        .groupBy(col("a.item").as("item1"), col("b.item").as("item2"))
        .agg(count(lit(1)).as("n_pairs"))
      pairs
        .join(broadcast(ic.select(col("item").as("item1"),
          col("n_item").as("n_item1"))), "item1")
        .join(broadcast(ic.select(col("item").as("item2"),
          col("n_item").as("n_item2"))), "item2")
        .crossJoin(broadcast(tot))
        .select(col("item1"), col("item2"), col("n_pairs"),
          col("n_item1"), col("n_item2"),
          round(col("n_pairs").cast("double") * col("n_baskets")
            / (col("n_item1") * col("n_item2")), 6).as("lift"))
    }
    assert(bits(graft.analytics.Funnels.itemCooccurrence(spark, sf))
      == bits(cooccurOld(spark)))
  }

  // ---- q200: melted transition edges ----

  test("q200 melted transitions equal the three-branch union form") {
    import org.apache.spark.sql.expressions.Window
    // the pre-r17 implementation, verbatim
    def removalOld(spark: org.apache.spark.sql.SparkSession,
        iters: Int = 12): DataFrame = {
      val wUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val channel: org.apache.spark.sql.Column = element_at(
        array(lit("facebook"), lit("google"), lit("tiktok_ads"),
          lit("organic")),
        (get_json_object(col("props"), "$.k").cast("int") % 4) + 1)
      val ev = graft.core.Tables.events(spark, sf)
        .select(col("user_id"), col("ts"), col("event_id"),
          channel.as("ch"),
          (col("event_type") === "purchase").cast("int").as("is_p"))
        .withColumn("new_s",
          when(lag(col("ts"), 1).over(wUser).isNull
            || unix_micros(col("ts"))
              - unix_micros(lag(col("ts"), 1).over(wUser)) > 1800000000L, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("new_s")).over(
          wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val wSess = Window.partitionBy(col("user_id"), col("sid"))
        .orderBy(col("ts"), col("event_id"))
      val wSessAll = Window.partitionBy(col("user_id"), col("sid"))
      val collapsed = ev
        .withColumn("conv", max(col("is_p")).over(wSessAll))
        .withColumn("prev_ch", lag(col("ch"), 1).over(wSess))
        .where(col("prev_ch").isNull || col("prev_ch") =!= col("ch"))
        .withColumn("next_ch", lead(col("ch"), 1).over(wSess))
      val transitions = collapsed
        .where(col("prev_ch").isNull)
        .select(lit("start").as("src"), col("ch").as("dst"))
        .union(collapsed.where(col("next_ch").isNotNull)
          .select(col("ch").as("src"), col("next_ch").as("dst")))
        .union(collapsed.where(col("next_ch").isNull)
          .select(col("ch").as("src"),
            when(col("conv") === 1, "conv").otherwise("drop").as("dst")))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      val edges = transitions.collect()
        .map(r => (r.getString(0), r.getString(1), BigInt(r.getLong(2))))
      val totals = edges.groupBy(_._1)
        .map { case (f, es) => f -> es.map(_._3).sum }
      val scale = BigInt("1000000000000")
      def solve(removed: Option[String]): BigInt = {
        val redirected = edges.map { case (f, t, n) =>
          (f, if (removed.contains(t)) "drop" else t, n)
        }
        var v: Map[String, BigInt] =
          totals.keys.map(_ -> BigInt(0)).toMap ++
            Seq("conv" -> scale, "drop" -> BigInt(0))
        for (_ <- 1 to iters) {
          val next = scala.collection.mutable.Map.empty[String, BigInt]
            .withDefaultValue(BigInt(0))
          for ((f, t, n) <- redirected) next(f) += n * v.getOrElse(t, BigInt(0))
          v = totals.map { case (f, tot) => f -> next(f) / tot } ++
            Seq("conv" -> scale, "drop" -> BigInt(0))
        }
        v("start")
      }
      val pBase = solve(None)
      val channels = Seq("facebook", "google", "tiktok_ads", "organic")
      val rows = channels.map { c =>
        val pc = solve(Some(c))
        (c, pc, pBase - pc)
      }
      val sumRe = rows.map(_._3).sum
      val s = spark
      import s.implicits._
      rows.toSeq.map { case (c, pc, re) =>
        (c, pBase.toLong, pc.toLong, re.toLong)
      }.toDF("channel", "p_base_fp", "p_removed_fp", "removal_effect_fp")
        .select(col("channel"), col("p_base_fp"), col("p_removed_fp"),
          col("removal_effect_fp"),
          round(col("removal_effect_fp").cast("double") / lit(1e12), 6)
            .as("removal_effect"),
          if (sumRe == 0) lit(null).cast("double").as("attribution")
          else round(col("removal_effect_fp").cast("double")
            / lit(sumRe.toDouble), 6).as("attribution"))
    }
    assert(bits(graft.analytics.Funnels.removalAttribution(spark, sf))
      == bits(removalOld(spark)))
  }

  // ---- q326: single-pass waiting-supplier gate ----

  test("q326 singleton late-supplier aggregate equals the semi-join form") {
    // the pre-r17 two-evaluation implementation, verbatim
    def q21Old(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val perOrderSupp = graft.core.Tables.lineitem(spark, sf)
        .join(graft.core.Tables.orders(spark, sf)
          .where(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(when(col("l_shipdate") >
          col("o_orderdate") + expr("INTERVAL 60 DAYS"), 1).otherwise(0))
          .as("late"))
      val gated = perOrderSupp
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"))
        .where(col("n_supp") >= 2 && col("n_late") === 1)
        .select(col("l_orderkey"))
      perOrderSupp.where(col("late") === 1)
        .join(gated, Seq("l_orderkey"), "left_semi")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(graft.core.Tables.supplier(spark, sf)
          .select(col("s_suppkey"), col("s_name"))),
          col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
    }
    assert(bits(graft.analytics.Relational.tpchQ21WaitingSuppliers(spark, sf))
      == bits(q21Old(spark)))
  }

  // ---- q157: one-evaluation shard mixing ----

  test("q157 two-level mixing aggregate equals the two-evaluation form") {
    import org.apache.spark.sql.expressions.Window
    // the pre-r17 shardMixingOf, verbatim
    def mixOld(m: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("shard")).orderBy(col("start_offset"))
      val adj = m.withColumn("prev_source", lag(col("source"), 1).over(w))
        .where(col("prev_source").isNotNull)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_adjacent"),
          sum((col("source") === col("prev_source")).cast("long"))
            .as("n_same"))
      val comp = m.groupBy(col("shard"), col("source"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("shard"))
        .agg(sum(col("c")).as("n_docs"),
          sum(col("c") * (col("c") - lit(1))).as("ssq"))
      val obs = col("n_same").cast("double") / col("n_adjacent").cast("double")
      val exp0 = col("ssq").cast("double") /
        (col("n_docs") * (col("n_docs") - lit(1))).cast("double")
      adj.join(comp, "shard")
        .where(col("n_docs") >= 2)
        .select(col("shard"), col("n_docs"), col("n_adjacent"), col("n_same"),
          round(obs, 6).as("same_rate"),
          round(exp0, 6).as("expected_rate"),
          when(col("ssq") > 0, round(obs / exp0, 6)).as("mixing_ratio"))
    }
    val manifest = Curation.shardManifest(spark, sf)
      .join(graft.core.Tables.documents(spark, sf)
        .select(col("doc_id"), col("source")), "doc_id")
    assert(bits(Curation.shardMixingOf(manifest)) == bits(mixOld(manifest)))
    // synthetic: single-doc shard (dropped), all-same shard (ssq>0 null
    // branch exercised), offset ties, null sources
    val s = spark
    import s.implicits._
    val synth = Seq(
      (0L, 1L, "a"), (0L, 2L, "a"), (0L, 3L, "b"), (0L, 3L, "b"),
      (1L, 1L, "solo"),
      (2L, 1L, "x"), (2L, 2L, "x"), (2L, 3L, "x"),
      (3L, 1L, null), (3L, 2L, "y"), (3L, 3L, null))
      .toDF("shard", "start_offset", "source")
    assert(bits(Curation.shardMixingOf(synth)) == bits(mixOld(synth)))
  }

  // ---- q117: half-space single-aggregate triplet mining ----

  test("q117 conditional-aggregate triplets equal the two-filter join form") {
    // the pre-r17 implementation, verbatim
    def tripletsOld(spark: org.apache.spark.sql.SparkSession,
        posThr: Double = 0.3, negThr: Double = 0.2): DataFrame = {
      val av = graft.core.Tables.embeddingsSpread(spark, sf)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .join(Similarity.ivfAssignTrained(spark, sf)
          .select(col("vec_id"), col("cell")), "vec_id")
      val pairs = av.as("a").join(av.as("b"),
          col("a.cell") === col("b.cell")
            && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("anchor"), col("b.vec_id").as("cand"),
          round(graft.functions.Vectors.cosine(col("a.v"), col("b.v")), 4)
            .as("cosine"))
      val pos = pairs.where(col("cosine") >= posThr)
        .groupBy(col("anchor"))
        .agg(max_by(col("cand"), struct(col("cosine"), -col("cand")))
          .as("positive"),
          max(col("cosine")).as("pos_cosine"))
      val neg = pairs.where(col("cosine") < negThr)
        .groupBy(col("anchor"))
        .agg(max_by(col("cand"), struct(col("cosine"), -col("cand")))
          .as("negative"),
          max(col("cosine")).as("neg_cosine"))
      pos.join(neg, "anchor")
        .select(col("anchor"), col("positive"), col("pos_cosine"),
          col("negative"), col("neg_cosine"))
    }
    assert(bits(Similarity.tripletMining(spark, sf))
      == bits(tripletsOld(spark)))
  }

  // ---- q331: tagged single-pass association rules ----

  test("q331 tagged basket explode equals the capped self-join form") {
    import org.apache.spark.sql.expressions.Window
    // the pre-r17 implementation, verbatim
    def rulesOld(spark: org.apache.spark.sql.SparkSession,
        minSupport: Long = 2L, maxItemsPerBasket: Int = 32): DataFrame = {
      val rawItems = graft.core.Tables.events(spark, sf)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          get_json_object(col("props"), "$.k").cast("int").as("item"))
        .where(col("item").isNotNull)
        .distinct()
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("item"))
      val items = rawItems
        .withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= maxItemsPerBasket)
        .drop("__rk")
        .localCheckpoint()
      val tot = items.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val ic = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      val rules = items.as("a")
        .join(items.as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.day") === col("b.day")
            && col("a.item") =!= col("b.item"))
        .groupBy(col("a.item").as("antecedent"),
          col("b.item").as("consequent"))
        .agg(count(lit(1)).as("n_both"))
        .where(col("n_both") >= minSupport)
      rules
        .join(broadcast(ic.select(col("item").as("antecedent"),
          col("n_item").as("n_ant"))), "antecedent")
        .join(broadcast(ic.select(col("item").as("consequent"),
          col("n_item").as("n_cons"))), "consequent")
        .crossJoin(broadcast(tot))
        .select(col("antecedent"), col("consequent"),
          col("n_both"), col("n_ant"), col("n_cons"),
          round(col("n_both").cast("double") / col("n_baskets"), 6)
            .as("support"),
          round(col("n_both").cast("double") / col("n_ant"), 6)
            .as("confidence"),
          round(col("n_both").cast("double") * col("n_baskets")
            / (col("n_ant") * col("n_cons")), 6).as("lift"),
          when(col("n_ant") === col("n_both"), lit(null).cast("double"))
            .otherwise(round(
              ((col("n_baskets") - col("n_cons")) * col("n_ant"))
                .cast("double")
                / ((col("n_ant") - col("n_both")) * col("n_baskets"))
                  .cast("double"), 6)).as("conviction"))
    }
    assert(bits(graft.analytics.Funnels.associationRules(spark, sf))
      == bits(rulesOld(spark)))
    // synthetic: a basket wider than the cap (cap = 3 keeps the three
    // smallest items, exactly the row_number ≤ 3 over orderBy(item))
    val s = spark
    import s.implicits._
    val wide = (1 to 6).map(i => ("u1", "2024-01-01", i)) ++
      Seq(("u2", "2024-01-01", 2), ("u2", "2024-01-01", 5),
        ("u3", "2024-01-02", 9))
    val rawSynth = wide.toDF("user_id", "day0", "item")
      .select(col("user_id"), to_date(col("day0")).as("day"), col("item"))
    def rulesOldOf(items0: DataFrame, minSupport: Long,
        cap: Int): DataFrame = {
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("item"))
      val items = items0
        .withColumn("__rk", row_number().over(w))
        .where(col("__rk") <= cap)
        .drop("__rk")
      val tot = items.select(col("user_id"), col("day")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val ic = items.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
      val rules = items.as("a")
        .join(items.as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.day") === col("b.day")
            && col("a.item") =!= col("b.item"))
        .groupBy(col("a.item").as("antecedent"),
          col("b.item").as("consequent"))
        .agg(count(lit(1)).as("n_both"))
        .where(col("n_both") >= minSupport)
      rules
        .join(broadcast(ic.select(col("item").as("antecedent"),
          col("n_item").as("n_ant"))), "antecedent")
        .join(broadcast(ic.select(col("item").as("consequent"),
          col("n_item").as("n_cons"))), "consequent")
        .crossJoin(broadcast(tot))
        .select(col("antecedent"), col("consequent"),
          col("n_both"), col("n_ant"), col("n_cons"),
          round(col("n_both").cast("double") / col("n_baskets"), 6)
            .as("support"),
          round(col("n_both").cast("double") / col("n_ant"), 6)
            .as("confidence"),
          round(col("n_both").cast("double") * col("n_baskets")
            / (col("n_ant") * col("n_cons")), 6).as("lift"),
          when(col("n_ant") === col("n_both"), lit(null).cast("double"))
            .otherwise(round(
              ((col("n_baskets") - col("n_cons")) * col("n_ant"))
                .cast("double")
                / ((col("n_ant") - col("n_both")) * col("n_baskets"))
                  .cast("double"), 6)).as("conviction"))
    }
    assert(bits(graft.analytics.Funnels
        .associationRulesOf(spark, rawSynth, 1L, 3))
      == bits(rulesOldOf(rawSynth, 1L, 3)))
  }

  // ---- q120: single-pass survivor mix ----

  test("q120 one-pass survivor counts equal the raw/surv join form") {
    import org.apache.spark.sql.expressions.Window
    // the pre-r17 implementation, verbatim
    def mixOld(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val docs = graft.core.Tables.documents(spark, sf)
        .select(col("doc_id"), col("source"))
      val kept = Curation.curationDecisions(spark, sf)
        .where(col("keep") === 1).select(col("doc_id"))
      val raw = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val surv = docs.join(kept, "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      val all = Window.partitionBy(lit(1))
      raw.join(surv, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .withColumn("total_docs", sum(col("n_docs")).over(all))
        .withColumn("total_kept", sum(col("n_kept")).over(all))
        .select(col("source"), col("n_docs"), col("n_kept"),
          round(col("n_docs").cast("double") / col("total_docs"), 6)
            .as("raw_share"),
          round(col("n_kept").cast("double") / col("total_kept"), 6)
            .as("survivor_share"))
        .withColumn("share_delta",
          round(col("survivor_share") - col("raw_share"), 6))
    }
    assert(bits(Curation.survivorMixShift(spark, sf)) == bits(mixOld(spark)))
  }

  // ---- q340: tagged single-pipeline modularity ----

  test("q340 tagged modularity equals the per-labeling score form") {
    // the pre-r17 implementation, verbatim
    def modularityOld(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val pairs = Dedup.minhashPairs(spark, sf)
        .select(col("doc1"), col("doc2")).localCheckpoint()
      val allDocs = graft.core.Tables.documents(spark, sf)
        .select(col("doc_id"))
      val comp = Curation.dedupComponents(spark, sf)
        .select(col("doc_id"), col("component").as("c"))
      val lpa = Curation.lpaCommunities(spark, sf)
        .select(col("doc_id"), col("community").as("c"))
      val single = allDocs.select(col("doc_id"), col("doc_id").as("c"))
      val mRow = pairs.agg(count(lit(1)).as("m"))
      val deg = pairs.select(col("doc1").as("doc_id"))
        .unionByName(pairs.select(col("doc2").as("doc_id")))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
      def score(name: String, labels: DataFrame): DataFrame = {
        val e = pairs
          .join(labels.select(col("doc_id").as("doc1"), col("c").as("c1")),
            "doc1")
          .join(labels.select(col("doc_id").as("doc2"), col("c").as("c2")),
            "doc2")
          .where(col("c1") === col("c2"))
          .groupBy(col("c1").as("c")).agg(count(lit(1)).as("ec"))
        val d = deg.join(labels, "doc_id")
          .groupBy(col("c")).agg(sum(col("deg")).as("dc"))
        val perC = d.join(e, Seq("c"), "left")
          .select(col("dc"), coalesce(col("ec"), lit(0L)).as("ec"))
        val nComm = labels.agg(countDistinct(col("c")).as("n_communities"))
        perC.crossJoin(broadcast(mRow))
          .agg(sum(lit(4L) * col("m") * col("ec") - col("dc") * col("dc"))
              .as("num"),
            coalesce(sum(col("ec")), lit(0L)).as("n_internal_edges"))
          .crossJoin(broadcast(mRow))
          .crossJoin(broadcast(nComm))
          .select(lit(name).as("partition"), col("n_communities"),
            col("n_internal_edges"),
            round(col("num").cast("double")
              / (lit(4.0) * col("m") * col("m")), 6).as("modularity"))
      }
      score("components", comp)
        .unionByName(score("lpa", lpa))
        .unionByName(score("singletons", single))
    }
    assert(bits(Curation.partitionModularity(spark, sf))
      == bits(modularityOld(spark)))
  }
}
