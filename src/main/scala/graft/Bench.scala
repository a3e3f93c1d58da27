package graft

/** Driver benchmark: every SparkEntry query against SPARK_GRAFT_SF_DIR,
  * N runs each (SPARK_GRAFT_BENCH_RUNS, default 5), reporting per-query
  * MEDIANS and MINS — single runs at sf0.1 showed ±20-100% host noise
  * (PERF.md), and round-3's driver host had 2 of 3 runs contended, which
  * put the N=3 median ON a contended run and misreported two queries by
  * 10×. With N=5 a majority of runs must be contended before the median
  * flips, and `queries_min` (per-query minimum — the least-contended
  * sample, an upper bound on what the engine itself costs) plus
  * `run_totals` make any residual contention visible in the artifact
  * itself: a median far above its min on a host whose run totals spread
  * is a noisy host, not a slow engine. Each run executes the queries in
  * a DIFFERENT deterministic-random order (seed = run index), so a
  * contended stretch of wall-clock hits different queries each run
  * instead of triple-sampling the same ones (r12: q243/q288 medians 3x
  * steady state from exactly that).
  *
  * Before the timed passes, an untimed-but-REPORTED prebuild phase
  * materializes the multiply-consumed memoized helper tables (minhash
  * signatures, the SessionMemo pair/component/decontamination results,
  * the q59 tf cache) — per-build seconds in `prebuild`, total in
  * `prebuild_sec` — so shared-infrastructure cost is attributed to the
  * named build instead of to whichever query happens to touch each memo
  * first (r9 driver artifact: q74 cold 55.4 s of bloom/gram builds vs a
  * ~1 s median). Run 1 is then the cold pass: it pays JVM/codegen warmup
  * and each query's OWN first-run work, reported per query in
  * `queries_cold` — that column is where a per-query cold regression
  * shows up. The headline `value` is the sum of medians; a fresh
  * cluster's true first-pass cost is prebuild_sec + cold_total.
  *
  * Per-query stats are computed over the SUCCESSFUL runs only; queries
  * with any failed run are listed in `failures` (name → failed-run count)
  * rather than silently collapsing five samples to a -1 sentinel.
  * A query with NO successful run reports -1.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = graft.core.GraftSession.sfDir
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val spark = graft.core.GraftSession.driver()
    graft.core.GraftSession.warmUp(spark, sfDir)

    // optional comma-separated name filter for local spot-checks
    // (SPARK_GRAFT_BENCH_ONLY); the driver never sets it — full run
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    // PREBUILD (VERDICT r9 item 2): materialize the MULTIPLY-CONSUMED
    // memoized tables before the timed passes. Their build cost is shared
    // infrastructure — on the r9 driver host it landed on whichever query
    // touched each memo first (q74_decontam_bloom cold 55.4 s vs a ~1 s
    // median; the builder host never reproduced it), which is exactly the
    // mis-attribution the cold pass exists to avoid. Each build is timed
    // and reported in the artifact (`prebuild` / `prebuild_sec`), so the
    // fresh-cluster cost stays visible — it is attributed to the build,
    // not to an arbitrary first consumer. Single-consumer memos (q100's
    // fast-margin pairs) are deliberately NOT here: their build cost
    // belongs to their one query's cold time. q223's band sweep is the
    // r11-verdict-sanctioned exception (item 3): its 65 s truth-set
    // build was a first-pass wall, so it is prebuilt-and-attributed (and
    // served from the durable cache on a warm host like every family
    // here). Skipped under SPARK_GRAFT_BENCH_ONLY so spot-checks can
    // observe raw colds.
    val prebuildSet = Seq(
      "q25_minhash_dedup",        // minhashPairs (q24/q25/q50/q72/q91…)
      "q50_dedup_components",     // dedupComponents + 0.8-threshold pairs
      "q56_decontamination",      // gram decontamination verdicts
      "q59_tfidf",                // tfidfTf term-frequency cache (q59/q90)
      "q66_ivf_trained_assign",   // ivfAssignTrained: the trained-cell
                                  //   blocking shared by q114/q115/q117/
                                  //   the balanced sampler (r15 verdict
                                  //   item 2: q115's 7.8 s driver cold
                                  //   re-derived it per consumer)
      "q79_random_projection",    // randomProjection|8 (q79 + q115's JL
                                  //   pre-filter — same r15 item 2)
      "q62_source_leakage",       // sourceShingleUniverse (q62/q243…)
      "q72_dedup_components_star",// dedupComponentsStar (q72/q138…)
      "q73_jaccard_prefix",       // jaccardPairsPrefix 0.7/0.8 (q23/q73)
      "q74_decontam_bloom",       // decontaminateBloom (q74/q118/q121…)
      "q81_winnow_pairs",         // winnowPairs|0.8 (q81 + containment kin)
      "q106_winnow_containment",  // winnowPairs|0.7 — TWO consumers since
                                  //   q113 route-agreement joins it against
                                  //   minhashPairs|0.7 (r17: the 7.3 s q113
                                  //   cold was this family landing on the
                                  //   first consumer)
      "q271_clustering_agreement",// dedupComponents|0.7 (the 0.8 family is
                                  //   q50's) — single consumer but a
                                  //   first-pass wall (r17 quiet-host cold
                                  //   10.7 s vs 0.35 warm; the q223
                                  //   precedent: attribute it, don't let it
                                  //   land on whichever run-1 slot hits it)
      "q86_semantic_resolution",  // semanticResolution (q68/q86)
      "q89_split_leakage",        // splitLeakage (q89/q127/q130)
      "q92_pq_encode",            // pqAssign (q92/q93/q101/q125)
      "q116_incremental_neardup", // dedupMaterialized history tables
      "q223_band_tuning",         // band sweep + its exact-Jaccard truth set
      "q225_dedup_dendrogram",    // dedupDendrogram memo: 0.7 minhashPairs +
                                  //   three CC passes (r13 driver cold 13.2 s
                                  //   when it landed in run 1 uncached)
      "q197_mmr_rerank",          // mmrCand packed candidate grid (r15
                                  //   verdict item 1: the grid re-derived
                                  //   per pass — median 3.98 vs min 1.17)
      "q316_fellegi_sunter",      // erPairs blocked-pair memo (q316-318)
      "q341_centroid_confusion",  // quantizedAssignment (q341/q357/q360)
      "q348_grid_dbscan",         // gridDbscanShared: the 9-cell neighbor
                                  //   join + contraction shared by q348 AND
                                  //   q385 (r14 verdict item 1; r14 driver
                                  //   cold 39.1 s landed on q348 uncached)
      "q369_principal_direction", // principalCov d²-row scatter/mean memo
                                  //   (r14 verdict item 2: 11.4 s driver
                                  //   cold was the n·d² self-join per pass)
      "q29_ann_bruteforce",       // bruteForceTopK|5|10 exact ranking
                                  //   (q29 + the q67/q211 recall/nDCG
                                  //   evals each re-scored it — r17)
      "q30_ann_lsh",              // lshTopK|5|10 (q30/q67/q211 — r17)
      "q37_ann_ivf",              // ivfTopK|5|10 (q37/q67/q211 — r17)
      "q204_knn_eval",            // bruteForceTopK|10|100 (q204 + q339's
                                  //   label metrics share the ranking)
      "q61_curation_decisions",   // curationDecisions verdict (q61 + the
                                  //   q99/q120/q124/q157/q237/q250
                                  //   packing/curation capstones — r17)
      "q99_shard_manifest",       // shardManifest layout (q99/q124/q157/
                                  //   q237 each re-packed it — r17)
      "q285_media_features")      // byteHistogram features (q285 + q288's
                                  //   ANN decoded every payload TWICE —
                                  //   query and neighbor side — r17)
    val prebuildAttempts: Seq[(String, Option[Double])] =
      if (only.nonEmpty) Seq.empty
      else prebuildSet.filter(SparkEntry.queries.contains).map { name =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, sfDir).write
            .format("noop").mode("overwrite").save()
          val s = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench] prebuilt $name: $s%.2f s")
          name -> Some(s)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] prebuild $name failed: ${e.getMessage}")
          name -> None
        }
      }
    val prebuild = prebuildAttempts.collect { case (n, Some(s)) => n -> s }
    // a failed prebuild lands its build cost back on the first consumer's
    // cold time — record it IN the artifact, or the r9 mystery recurs
    // with nothing explaining it
    val prebuildFailed = prebuildAttempts.collect { case (n, None) => n }
    val prebuildSec = prebuild.map(_._2).sum
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // noop sink: evaluates every row of every column (count() would let
    // Catalyst prune projections and under-report)
    def onePass(order: Seq[String]): Map[String, Double] = order.map { name =>
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).write
          .format("noop").mode("overwrite").save()
        name -> (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        name -> -1.0 // sentinel: failures must not look like fast runs
      }
    }.toMap

    // RANDOMIZED per-run query order, seeded by the run index (r12 verdict
    // item 1): with a fixed alphabetical order, a contended window on the
    // driver host lands on the SAME queries in every run — r12's artifact
    // showed q243/q288 medians at 3x their steady state because 3 of 5
    // runs hit them inside the same contended stretch. Shuffling per run
    // smears host contention across DIFFERENT queries, so a majority of a
    // query's samples stay clean and the median keeps discriminating.
    // Deterministic seeds (run index) keep the artifact reproducible
    // run-for-run; per-query stats are order-independent by construction
    // (every query runs exactly once per pass).
    val passes = (1 to math.max(1, runs)).map { i =>
      onePass(new scala.util.Random(i).shuffle(names))
    }
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0
      else {
        val s = xs.sorted
        // true median for even n (upper-middle would report the COLD pass
        // for runs=2, reinstating the distortion medians exist to remove)
        if (s.size % 2 == 1) s(s.size / 2)
        else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
    // stats over SUCCESSFUL runs only: one flaky failure must not discard
    // the other samples (it is recorded in `failures` instead)
    def ok(n: String): Seq[Double] = passes.map(_(n)).filter(_ >= 0)
    val medians = names.map(n => n -> median(ok(n))).toMap
    // per-query min: the least-contended sample — an upper bound on the
    // engine's own cost regardless of host load
    val mins = names.map { n =>
      val xs = ok(n)
      n -> (if (xs.isEmpty) -1.0 else xs.min)
    }.toMap
    val failures = names.map(n => n -> passes.count(_(n) < 0)).filter(_._2 > 0)

    // round per-query values to ms: sub-ms digits are noise and the digits
    // cost tail-window space (see below)
    def r3(v: Double) = if (v < 0) v else math.rint(v * 1000) / 1000
    def fmt(m: Map[String, Double]) =
      names.map(n => "\"" + n + "\":" + r3(m(n))).mkString("{", ",", "}")
    val total = medians.values.filter(_ >= 0).sum
    val totalMin = mins.values.filter(_ >= 0).sum
    val perRunTotals = passes.map(_.values.filter(_ >= 0).sum)
    val spread = perRunTotals.map(t => f"$t%.3f").mkString("[", ",", "]")
    val coldQs = names.map(n => "\"" + n + "\":" + r3(passes.head(n))).mkString("{", ",", "}")
    val failJson = failures.map { case (n, c) => "\"" + n + "\":" + c }.mkString("{", ",", "}")
    // The harness records only the LAST ~2000 chars of output. With 70+
    // queries the full detail line is ~7 KB, so whatever map happens to
    // straddle the cutoff is all a reader sees (round 4's tail ended inside
    // `queries_cold`, presenting cold-pass times as if they were the
    // result). Print the FULL detail line first for anyone reading the
    // whole log, then a compact self-contained summary line LAST — totals,
    // run spread, and the slowest queries BY MEDIAN — sized to always fit
    // the tail window intact.
    val prebuildJson = prebuild
      .map { case (n, s) => "\"" + n + "\":" + r3(s) }.mkString("{", ",", "}")
    val prebuildFailJson =
      prebuildFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${fmt(medians)},"queries_min":${fmt(mins)},"queries_cold":$coldQs,"total_min":$totalMin,"sf":"$sfDir","runs":${passes.size},"cold_total":${perRunTotals.head},"prebuild_sec":${r3(prebuildSec)},"prebuild":$prebuildJson,"prebuild_failures":$prebuildFailJson,"run_totals":$spread,"failures":$failJson}""")
    // [median, min] per slow query (r12 verdict item 1): median >> min on
    // a host whose run totals spread is contention, not a slow plan — the
    // min is the adjudication the verdict otherwise has to re-measure
    val slowest = names.sortBy(n => -medians(n)).take(10)
      .map(n => "\"" + n + "\":[" + r3(medians(n)) + "," + r3(mins(n)) + "]")
      .mkString("{", ",", "}")
    // VERDICT r10 item 3: the driver keeps only the LAST ~2000 chars of
    // output, and r10's tail cut off the cold and prebuild breakdowns —
    // leaving a 385 s warm outlier unattributable. The three diagnostic
    // fields a reader needs for that (top colds, prebuild attribution,
    // per-run regressors vs median) therefore go at the very END of the
    // final summary line, where no cutoff can reach them.
    val slowestCold = names.sortBy(n => -passes.head(n)).take(10)
      .map(n => "\"" + n + "\":" + r3(passes.head(n)))
      .mkString("{", ",", "}")
    val prebuildTop =
      (prebuild.sortBy(-_._2).take(5) :+ ("total" -> prebuildSec))
        .map { case (n, s) => "\"" + n + "\":" + r3(s) }
        .mkString("{", ",", "}")
    // per-run top-3 positive deltas vs each query's median: names the
    // queries that made an outlier run slow (GC/codegen-eviction shows
    // up concentrated; host contention smears below the 0.2 s floor)
    val regressors = passes.zipWithIndex.map { case (p, i) =>
      val tops = names.map(n => n -> (p(n) - medians(n)))
        .filter { case (_, d) => d > 0.2 }
        .sortBy { case (_, d) => -d }.take(3)
        .map { case (n, d) => "\"" + n + "\":" + r3(d) }
        .mkString("{", ",", "}")
      "\"run" + (i + 1) + "\":" + tops
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","runs":${passes.size},"n_queries":${names.size},"note":"per-query medians/mins/cold/prebuild in the full line above","total_of_medians_sec":$total,"total_min":$totalMin,"cold_total":${perRunTotals.head},"prebuild_sec":${r3(prebuildSec)},"prebuild_failures":$prebuildFailJson,"run_totals":$spread,"failures":$failJson,"slowest_by_median":$slowest,"slowest_by_cold":$slowestCold,"prebuild_top":$prebuildTop,"worst_run_regressors":$regressors}""")
    spark.stop()
  }
}
