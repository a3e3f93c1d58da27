package graft.tools

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ScanMeter
import graft.core.GraftSession
import graft.lake.Lake
import graft.operators.{Curation, RangedRank, Similarity}

/** Scale stress with planted truth (dev tool): each leg builds a synthetic
  * corpus whose right answer is known in closed form, runs the real
  * operators over it at 100-1000× their gate scale, times every step and
  * throws on the first failed check.
  *
  *  - `skipping [rows]` (default 20M, rounded to a multiple of 500): a 4-D
  *    Z-order write (morton bits past 31) and a pruned box scan that must
  *    keep the content; a bloom point lookup on a hash-shuffled 64-file
  *    table that must skip ≥ 90 % of the rows and strictly beat the
  *    bloom-less control's page-index pruning; DPP on a 500-day star whose
  *    dimension selects 5 days, against a DPP-off control that reads every
  *    partition.
  *  - `maintain [rows]` (default 2M, rounded to a multiple of 100):
  *    MaintainedTable additive gold over 30 daily batches, whose full
  *    replay must be fenced to a no-op; KeySetMaintain to `rows` distinct
  *    keys, then a 90 %-duplicate batch that adds exactly `rows/100`.
  *  - `rank [rows ...]` (default 20M and 500M): [[RangedRank]] rank plus
  *    running sum over a hashed key with ties, checked by closed form
  *    (sum rn = n(n+1)/2, max rn = n, pass B total = pass A total) and
  *    timed against a sort-only control. Up to [[WindowControlMaxRows]]
  *    rows it must also agree bit-exactly with the single-partition
  *    `Window.orderBy` it replaced; above that the window is one task
  *    sorting everything (about 34 min at 500M).
  *  - `dedup [docs]` (default 100k, split 90/5/5 into base/exact/near):
  *    exact-group count, 100 % exact-pair and ≥ 90 % near-pair recall of
  *    minhashPairs(0.8), and the planted boilerplate 5-gram ranked first by
  *    frequentNgrams with a bit-exact document frequency.
  *  - `dbscan [sites] [noise] [chain]` (default 100k/500k/20k): grid-DBSCAN
  *    with the distributed resolver on planted sites, noise and one long
  *    chain; both resolvers bit-equal on an overlap run at the same scale
  *    capped at 5k/20k/2k.
  *  - `mmr [queries]` (default 200k): the distributed MMR greedy's
  *    selection order for every planted query, a bit-exact compare with a
  *    driver-side greedy, and the n/4 vs n wall ratio.
  *
  *   sbt "runMain graft.tools.Stress dedup 100000"
  *
  * The session is [[GraftSession.local]] on every core of the host. Every
  * leg is also a plain function on a caller's session (`legs`), which is
  * how StressSpec runs each one at a small scale.
  */
object Stress extends ScanMeter {

  type Leg = (SparkSession, Seq[String]) => Unit

  val legs: ListMap[String, Leg] = ListMap(
    "skipping" -> skipping, "maintain" -> maintain, "rank" -> rank,
    "dedup" -> dedup, "dbscan" -> dbscan, "mmr" -> mmr)

  /** Largest input the rank leg also runs the single-partition window on. */
  val WindowControlMaxRows = 20_000_000L

  /** Prefix of every leg's temp dir under `java.io.tmpdir`. */
  val TempPrefix = "graft-stress"

  def main(args: Array[String]): Unit = {
    val leg = args.headOption.flatMap(legs.get)
    require(leg.isDefined, s"usage: Stress <${legs.keys.mkString("|")}> [args ...]")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      leg.get(spark, args.toSeq.tail)
      println(s"[stress] ${args.head}: every check passed")
    } finally spark.stop()
  }

  /** Runs `f` as one step of a leg; returns its value and wall seconds. */
  def timed[A](step: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"[stress] $step: $s%.1f s")
    (r, s)
  }

  def time[A](step: String)(f: => A): A = timed(step)(f)._1

  /** Runs `f` on a fresh temp dir and deletes the dir afterwards, whether
    * `f` passed or threw.
    */
  def withTempDir[A](f: String => A): A = {
    val dir = Files.createTempDirectory(TempPrefix)
    try f(dir.toString) finally {
      val paths = Files.walk(dir)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
  }

  private def rows(args: Seq[String], default: Long, multiple: Long): Long = {
    val raw = args.headOption.map(_.toLong).getOrElse(default)
    math.max(multiple, raw - raw % multiple)
  }

  /** Z-order, bloom and DPP skipping. The row count is a multiple of 500 so
    * the per-day partition math is exact.
    */
  def skipping(spark: SparkSession, args: Seq[String]): Unit = withTempDir { tmp =>
    val n = rows(args, 20_000_000L, 500L)

    // 4-D z-order: dims hashed off id, 8 bits each -> top morton bit
    // position 4*7+3 = 31, the first position a 32-bit shiftleft wraps
    val rows4d = spark.range(n).select(col("id"),
      pmod(hash(col("id"), lit(1)), lit(256)).cast("int").as("d0"),
      pmod(hash(col("id"), lit(2)), lit(256)).cast("int").as("d1"),
      pmod(hash(col("id"), lit(3)), lit(256)).cast("int").as("d2"),
      pmod(hash(col("id"), lit(4)), lit(256)).cast("int").as("d3"))
    time(s"4-D clustered write of $n rows (morton bits past 31)") {
      Lake.writeClustered(rows4d, s"$tmp/z4", Seq("d0", "d1", "d2", "d3"), numFiles = 32)
    }
    time("4-D pruned scan (64^4/256^4 = 0.4% box)") {
      def box(df: DataFrame) = df.where(col("d0").between(0, 63)
        && col("d1").between(0, 63) && col("d2").between(0, 63)
        && col("d3").between(0, 63)).count()
      val hits = box(spark.read.parquet(s"$tmp/z4"))
      val expected = box(rows4d)
      assert(hits == expected, s"layout changed content: $hits != $expected")
    }

    // bloom point lookup on the adversarial layout for min/max zone maps:
    // every file's key range spans the whole domain
    val events = spark.range(n).select(col("id").as("event_id"),
      pmod(hash(col("id")), lit(100000)).cast("long").as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("purchase")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("event_type"),
      (pmod(col("id"), lit(9973)) / lit(100.0)).as("value"))
    time(s"bloom write: $n rows, 64 hash-shuffled files, ndv=$n") {
      Lake.writeBloomIndexed(events, s"$tmp/bloom", "event_id",
        shuffleCol = "user_id", numFiles = 64, expectedNdv = n)
    }
    time("control write: same rows, same layout, no bloom") {
      events.repartition(64, col("user_id"))
        .write.mode("overwrite").parquet(s"$tmp/nobloom")
    }
    val keys = Seq(7L, n / 2, n - 3)
    def lookup(path: String) = spark.read.parquet(path)
      .where(col("event_id").isin(keys: _*))
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val bloomRead = time("bloom point lookup (3 keys)") {
      val (found, read) = runAndMeter(lookup(s"$tmp/bloom"))
      assert(found.map(_.head) == keys.toSet, s"wrong keys: $found")
      println(f"[stress]   bloom read $read%,d / $n%,d rows -> skip ratio ${1.0 - read.toDouble / n}%.4f")
      assert(read * 10 <= n, s"bloom should skip >=90% of rows, read $read")
      read
    }
    time("bloom-less control lookup (3 keys)") {
      val (found, read) = runAndMeter(lookup(s"$tmp/nobloom"))
      assert(found.map(_.head) == keys.toSet)
      // NOT `read == n` at scale: a hash shuffle concatenates each mapper's
      // id-sorted run, so parquet's PAGE column indexes still prune within
      // runs. Blooms prune whole row groups, which grow with file size
      // while pages stay ~1 MB, so the margin over the page-index floor is
      // a granularity ratio (16.0x at 20M rows, 2.6x at 100M), not a
      // constant: the scale-stable claims are the bloom's absolute >=90%
      // skip and strictly beating that floor
      println(f"[stress]   control read $read%,d rows; bloom beats page-index floor ${read.toDouble / bloomRead}%.1fx")
      assert(read > bloomRead,
        s"bloom must strictly beat page-index pruning: control $read vs bloom $bloomRead")
    }

    // DPP star: 500 day partitions, the dimension selects every 100th day
    val fact = spark.range(n).select(col("id").as("event_id"),
      pmod(hash(col("id"), lit(9)), lit(100000)).cast("long").as("user_id"),
      date_add(lit("2020-01-01").cast("date"), pmod(col("id"), lit(500)).cast("int")).as("day"))
    time(s"DPP fact write: $n rows over 500 day partitions") {
      fact.repartition(col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(s"$tmp/fact")
    }
    fact.select(col("day")).distinct()
      .select(col("day"),
        pmod(datediff(col("day"), lit("2020-01-01").cast("date")), lit(100)).as("wk"))
      .coalesce(1).write.mode("overwrite").parquet(s"$tmp/dim")
    val dimRows = spark.read.parquet(s"$tmp/dim").count()
    val selectedRows = n / 100 // 5 of 500 days, n/500 rows each
    time("DPP star scan (5 of 500 partitions)") {
      val df = Lake.dppScanOf(spark.read.parquet(s"$tmp/fact"), spark.read.parquet(s"$tmp/dim"))
      val (days, read) = runAndMeter(df)
      assert(days.size == 5, s"expected 5 day rollups, got ${days.size}")
      assert(df.queryExecution.executedPlan.toString.contains("dynamicpruning"),
        "expected a dynamicpruning partition filter in the fact scan")
      println(f"[stress]   dpp read $read%,d / $n%,d fact+dim rows")
      // dim may be metered twice (broadcast + dynamicpruning subquery)
      assert(read <= selectedRows + 2 * dimRows,
        s"DPP should read ~$selectedRows fact rows (+<=2x$dimRows dim), read $read")
    }
    time("DPP-disabled control scan reads all 500 partitions") {
      val off = spark.newSession()
      off.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      val (days, read) = runAndMeter(Lake.dppScanOf(
        off.read.parquet(s"$tmp/fact"), off.read.parquet(s"$tmp/dim")))
      assert(days.size == 5, "content must not depend on DPP")
      assert(read >= n, s"without DPP every partition is read: got $read")
    }
  }

  /** Fenced gold maintenance and the monotone key-set store. The row count
    * is a multiple of 100, so the key-set expectations (n/100 new keys,
    * the 90 %-duplicate batch) and the 30 × n/20 batching are exact.
    */
  def maintain(spark: SparkSession, args: Seq[String]): Unit = withTempDir { tmp =>
    val n = rows(args, 2_000_000L, 100L)

    val perBatch = n / 20
    def batchOf(day: Int) = spark.range(perBatch)
      .select(date_add(lit("2024-01-01").cast("date"), day).cast("timestamp").as("o_orderdate"),
        (pmod(col("id"), lit(100000)) / lit(100.0)).as("o_totalprice"))
    val gold = s"$tmp/gold"
    def replayAll(): Unit = (0 until 30).foreach(d =>
      graft.streaming.GoldMaintain.maintainParquet(gold)(batchOf(d), d.toLong))
    def totals() = spark.read.parquet(gold)
      .agg(sum(col("cents")), sum(col("n_orders"))).collect()(0)
    time(s"gold maintain: 30 x $perBatch-row daily batches")(replayAll())
    time("gold maintain: full 30-batch replay is fenced to a no-op") {
      val before = totals()
      replayAll()
      val after = totals()
      assert(before == after, s"replay double-counted: $before -> $after")
    }

    val keys = s"$tmp/keys"
    time(s"key-set maintain: $n distinct keys in one batch") {
      graft.streaming.KeySetMaintain.maintainParquet(keys, "user_id")(
        spark.range(n).select(col("id").as("user_id")), 0L)
    }
    time("key-set maintain: 90%-duplicate second batch") {
      // n/10 keys starting 9n/100 below the store's max key: the first
      // 9n/100 are already seen (90%), the last n/100 are new
      graft.streaming.KeySetMaintain.maintainParquet(keys, "user_id")(
        spark.range(n / 10).select((col("id") + lit(n - 9 * n / 100)).as("user_id")), 1L)
      val got = spark.read.parquet(keys).count()
      assert(got == n + n / 100, s"expected ${n + n / 100} keys, got $got")
    }
  }

  /** RangedRank rank + running sum at each scale in `args`. */
  def rank(spark: SparkSession, args: Seq[String]): Unit = {
    val scales = if (args.isEmpty) Seq(20_000_000L, 500_000_000L) else args.map(_.toLong)
    for (n <- scales) {
      // k is a 32-bit hash, so ties exist and the unique-id tie-break runs
      val input = spark.range(n).select(
        hash(col("id"), lit(7)).cast("long").as("k"),
        col("id"),
        pmod(col("id"), lit(997L)).as("v"))

      val (chk, cum) = time(f"RangedRank rank+prefix over $n%,d rows") {
        val rr = RangedRank.withGlobalRank(input, Seq(col("k"), col("id")), "rn", Seq("v" -> "cum_v"))
        // sum(rn * v) is the window-compare checksum; it may wrap above the cut
        val r = rr.df.agg(max(col("rn")), sum(col("rn")), max(col("cum_v")),
          sum(col("rn") * col("v"))).collect()(0)
        assert(rr.total == n && r.getLong(0) == n,
          s"rank must cover 1..$n: total=${rr.total}, max=${r.getLong(0)}")
        // n(n+1)/2 fits a long through n = 6.07e9; sum(long) is LongType
        val expectSum = (BigInt(n) * BigInt(n + 1) / 2).toLong
        assert(r.getLong(1) == expectSum, s"sum(rn) must be n(n+1)/2: ${r.getLong(1)} vs $expectSum")
        assert(r.getLong(2) == rr.totalLong("cum_v"),
          "pass B's final running sum must equal pass A's grand total")
        (r.getLong(3), r.getLong(2))
      }

      // the same range shuffle + sort, consumed inside codegen: RangedRank
      // minus this is the helper's Row codec and per-partition walk
      time(f"sorted-DataFrame control over $n%,d rows (no Row codec)") {
        val p = spark.sessionState.conf.numShufflePartitions
        val r = input.repartitionByRange(p, col("k"), col("id"))
          .sortWithinPartitions(col("k"), col("id"))
          .agg(sum(col("v")), count(lit(1))).collect()(0)
        assert(r.getLong(1) == n)
      }

      if (n <= WindowControlMaxRows)
        time(f"Window.orderBy single-partition control over $n%,d rows (one task)") {
          val w = Window.orderBy(col("k"), col("id"))
          val row = input
            .withColumn("rn", row_number().over(w).cast("long"))
            .withColumn("cum_v", sum(col("v")).over(
              w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .agg(sum(col("rn") * col("v")), max(col("cum_v"))).collect()(0)
          assert(row.getLong(0) == chk && row.getLong(1) == cum,
            s"window and RangedRank must agree bit-exactly: " +
              s"chk ${row.getLong(0)} vs $chk, cum ${row.getLong(1)} vs $cum")
        }
    }
  }

  /** The text/dedup stack on a planted multi-file corpus, fully generated
    * from doc_id:
    *  - base docs: 48 words from a 64-word vocab by xxhash64(base_id,
    *    position); every base with base_id % 20 == 7 also carries a fixed
    *    5-word boilerplate tail;
    *  - exact duplicates: doc i copies base i − nBase byte for byte;
    *  - near duplicates: the base text with word 23 replaced by the
    *    corpus-unique token "zz<doc_id>", 3-shingle Jaccard ≈ 0.88 against
    *    the base, above the 0.8 LSH gate.
    */
  def dedup(spark: SparkSession, args: Seq[String]): Unit = withTempDir { sf =>
    val n = args.headOption.map(_.toLong).getOrElse(100_000L)
    val nBase = n * 90 / 100
    val nExact = n * 5 / 100
    val nNear = n - nBase - nExact
    val vocab = array((0 until 64).map(w => lit(s"w$w")): _*)

    time(f"generate $n%,d docs ($nBase%,d base / $nExact%,d exact / $nNear%,d near)") {
      val ids = spark.range(n).select(
        col("id").as("doc_id"),
        when(col("id") < nBase, col("id"))
          .when(col("id") < nBase + nExact, col("id") - nBase)
          .otherwise(col("id") - nBase - nExact).as("base_id"),
        when(col("id") < nBase, lit("base"))
          .when(col("id") < nBase + nExact, lit("exact"))
          .otherwise(lit("near")).as("kind"))
      val baseWords = transform(sequence(lit(0), lit(47)),
        i => element_at(vocab, pmod(xxhash64(col("base_id"), i), lit(64)).cast("int") + 1))
      val withBoiler = when(pmod(col("base_id"), lit(20)) === 7,
        concat(baseWords, array(lit("the"), lit("quick"), lit("brown"), lit("fox"), lit("jumps"))))
        .otherwise(baseWords)
      val mutated = when(col("kind") === "near",
        transform(withBoiler, (w, i) => when(i === 23, concat(lit("zz"), col("doc_id"))).otherwise(w)))
        .otherwise(withBoiler)
      // multi-file layout, not the one-split gate fixture: the spread
      // helpers must be harmless here
      ids.select(col("doc_id"), concat_ws(" ", mutated).as("text"), lit("en").as("lang"),
          concat(lit("src"), pmod(col("doc_id"), lit(4))).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(32).write.mode("overwrite").parquet(s"$sf/documents.parquet")
    }

    // base texts are hash-injective at these sizes and near-dup tokens are
    // unique, so the duplicate groups are exactly the planted exact copies
    time("exactGroups") {
      val groups = graft.operators.Dedup.exactGroups(spark, sf).where(col("n_docs") >= 2)
      val byMult = groups.groupBy(col("n_docs")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nGroups = groups.count()
      require(nGroups == nExact, s"expected $nExact exact-duplicate groups, got $nGroups ($byMult)")
    }

    val pairs = time("minhashPairs(0.8) build") {
      val p = graft.operators.Dedup.minhashPairs(spark, sf, threshold = 0.8)
        .select(col("doc1"), col("doc2")).persist()
      println(f"[stress]   emitted pairs: ${p.count()}%,d")
      p
    }
    try time("minhashPairs recall check") {
      val exactHit = spark.range(nExact).select(col("id").as("doc1"), (col("id") + nBase).as("doc2"))
        .join(pairs, Seq("doc1", "doc2")).count()
      val nearHit = spark.range(nNear).select(col("id").as("doc1"), (col("id") + nBase + nExact).as("doc2"))
        .join(pairs, Seq("doc1", "doc2")).count()
      val nearRecall = nearHit.toDouble / nNear
      println(f"[stress]   exact recall: $exactHit%,d/$nExact%,d, " +
        f"near recall: $nearHit%,d/$nNear%,d (${nearRecall * 100}%.1f%%)")
      require(exactHit == nExact,
        s"exact-duplicate pairs must ALL surface (identical signatures): $exactHit/$nExact")
      // 16 perms / 4 bands: the s-curve gives ~0.97 at J ≈ 0.88
      require(nearRecall >= 0.9,
        f"near-dup recall $nearRecall%.3f below the 0.9 floor (s-curve predicts ~0.97)")
    } finally pairs.unpersist()

    time("frequentNgrams(5)") {
      val top = graft.analytics.TextAnalytics.frequentNgrams(spark, sf, n = 5, k = 5).collect()
      // the tail rides on bases ≡ 7 (mod 20) and on every exact and near
      // copy of one (the near mutation touches word 23, never the tail)
      def carriers(count: Long): Long = (0L until count).count(b => b % 20 == 7)
      val expected = carriers(nBase) + carriers(nExact) + carriers(nNear)
      val first = top.head
      require(first.getAs[String]("gram") == "the quick brown fox jumps",
        s"expected the planted boilerplate 5-gram first, got: ${top.toSeq}")
      require(first.getAs[Long]("n_docs") == expected,
        s"boilerplate df: expected $expected, got ${first.getAs[Long]("n_docs")}")
    }
  }

  private val EpsX = 5L
  private val EpsY = 2L
  private val MinPts = 4L

  /** Planted DBSCAN frame: (doc_id, x, y, expected cluster label) on a
    * widened integer domain (sites stride 500·eps, so occupied cells ≈
    * sites + noise and the rep graph is corpus-shaped):
    *  - 10 points per site inside one ε-box, odd points offset by exactly
    *    (EpsX, EpsY) so each site straddles up to 4 grid cells; with
    *    MinPts = 4 every site point is core, one cluster per site,
    *    labeled by the site's min doc_id;
    *  - isolated noise points on a negative-x shelf, label −1;
    *  - one chain at spacing 2 on x on its own shelf: ONE cluster whose
    *    rep-graph diameter forces the star resolver through its rounds.
    */
  private def plantedDbscan(spark: SparkSession, nSites: Long, nNoise: Long,
      chainLen: Long): DataFrame = {
    val sitePts = spark.range(nSites * 10).select(
      col("id").as("doc_id"),
      expr("id div 10").as("site"), // integer div: `/` would be double
      pmod(col("id"), lit(10L)).as("j"))
      .select(col("doc_id"),
        (col("site") * (500L * EpsX) + when(pmod(col("j"), lit(2L)) === 1L, EpsX).otherwise(0L)).as("x"),
        (pmod(xxhash64(col("site")), lit(1000003L)) * (500L * EpsY) +
          when(pmod(col("j"), lit(2L)) === 1L, EpsY).otherwise(0L)).as("y"),
        (col("site") * 10).as("expected"))
    val noiseBase = nSites * 10
    val noisePts = spark.range(nNoise).select(
      (col("id") + noiseBase).as("doc_id"),
      (-(col("id") + 1L) * (500L * EpsX)).as("x"),
      (pmod(xxhash64(col("id")), lit(1000003L)) * (500L * EpsY)).as("y"),
      lit(-1L).as("expected"))
    val chainBase = noiseBase + nNoise
    // chain endpoints see only 3 neighbors incl. self, so they are border
    // points; the min CORE is the second point (chainBase + 1)
    val chainPts = spark.range(chainLen).select(
      (col("id") + chainBase).as("doc_id"),
      (col("id") * 2L).as("x"),
      lit(1000003L * 500L * EpsY + 1000L).as("y"),
      lit(chainBase + 1L).as("expected"))
    sitePts.unionAll(noisePts).unionAll(chainPts)
  }

  /** Grid-DBSCAN's distributed component resolver on planted truth. */
  def dbscan(spark: SparkSession, args: Seq[String]): Unit = {
    val nSites = args.headOption.map(_.toLong).getOrElse(100_000L)
    val nNoise = args.lift(1).map(_.toLong).getOrElse(500_000L)
    val chainLen = args.lift(2).map(_.toLong).getOrElse(20_000L)

    // the driver union-find must hold the whole rep graph, so the overlap
    // run is this scale capped at 5k sites / 20k noise / 2k chain
    val (oSites, oNoise, oChain) = (nSites min 5000L, nNoise min 20000L, chainLen min 2000L)
    time(s"resolver equality ($oSites sites / $oNoise noise / $oChain chain)") {
      val small = plantedDbscan(spark, oSites, oNoise, oChain)
        .select(col("doc_id"), col("x"), col("y")).localCheckpoint()
      // checkpointed, so the two exceptAll runs resolve each side once
      val a = Curation.gridDbscanOf(spark, small, EpsX, EpsY, MinPts).localCheckpoint()
      val b = Curation.gridDbscanOf(spark, small, EpsX, EpsY, MinPts, distributedResolve = true)
        .localCheckpoint()
      val onlyA = a.exceptAll(b).count()
      val onlyB = b.exceptAll(a).count()
      assert(onlyA == 0 && onlyB == 0,
        s"resolver disagreement: $onlyA rows only-driver, $onlyB only-star")
    }

    val pts = time(f"generate ${nSites * 10 + nNoise + chainLen}%,d points " +
        f"($nSites%,d sites / $nNoise%,d noise / $chainLen%,d chain)") {
      plantedDbscan(spark, nSites, nNoise, chainLen).localCheckpoint()
    }
    val labeled = time("grid-DBSCAN (distributedResolve=true)") {
      Curation.gridDbscanOf(spark, pts.select(col("doc_id"), col("x"), col("y")),
        EpsX, EpsY, MinPts, distributedResolve = true).localCheckpoint()
    }
    time("planted truth") {
      val mismatches = labeled.join(pts.select(col("doc_id"), col("expected")), Seq("doc_id"))
        .where(col("cluster") =!= col("expected")).count()
      assert(mismatches == 0, s"$mismatches label mismatches vs planted truth")
      val nClusters = labeled.where(col("cluster") >= 0)
        .agg(count_distinct(col("cluster"))).head().getLong(0)
      assert(nClusters == nSites + 1, s"expected ${nSites + 1} clusters (sites + chain), got $nClusters")
      val nNoiseGot = labeled.where(col("cluster") === -1L).count()
      assert(nNoiseGot == nNoise, s"expected $nNoise noise, got $nNoiseGot")
    }
  }

  private val NCand = 20
  private val K = 5
  private val Lambda = 0.7

  /** The packed candidate grid (kind/query_id/cid/other/x) for `nQueries`
    * planted queries, the layout [[Similarity.mmrRerank]] packs:
    *  - candidates j = 0..9 (cluster A): rel = 0.95 − j·0.001, mutual sim
    *    0.9;
    *  - candidates j = 10..19 (cluster B): rel = 0.9 − (j−10)·0.001, sim
    *    0.1 to everything.
    * With λ = 0.7 and k = 5 the greedy must pick A0, then B0..B3: every
    * later A scores λ·rel − (1−λ)·0.9 ≈ 0.39, below every unpicked B's
    * ≈ 0.60, which holds only if max-sim is taken over the SELECTED set.
    */
  private def plantedMmr(spark: SparkSession, nQueries: Long): DataFrame = {
    val cands = spark.range(nQueries)
      .select(col("id").as("query_id"))
      .crossJoin(spark.range(NCand.toLong).select(col("id").as("j")))
      .select(col("query_id"), (col("query_id") * 100L + col("j")).as("cid"), col("j"),
        when(col("j") < 10, round(lit(0.95) - col("j") * 0.001, 4))
          .otherwise(round(lit(0.9) - (col("j") - 10L) * 0.001, 4)).as("rel"))
    val sims = cands.as("a").join(cands.as("b"),
        col("a.query_id") === col("b.query_id") && col("a.cid") =!= col("b.cid"))
      .select(col("a.query_id").as("query_id"), col("a.cid").as("cid"),
        col("b.cid").as("other"),
        when(col("a.j") < 10 && col("b.j") < 10, lit(0.9)).otherwise(lit(0.1)).as("sim"))
    cands.select(lit(0).as("kind"), col("query_id"), col("cid"),
        lit(null).cast("long").as("other"), col("rel").as("x"))
      .unionByName(sims.select(lit(1).as("kind"), col("query_id"),
        col("cid"), col("other"), col("sim").as("x")))
  }

  /** Driver-side greedy with mmrSelect's exact double semantics (λ and
    * 1−λ as the same literals; 6-dp HALF_UP round), for the bit compare.
    */
  private def mmrReference(qid: Long): Seq[(Long, Int, Long, Double, Option[Double], Double)] = {
    def round(x: Double, dp: Int) = BigDecimal(x).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rel = (0 until NCand).map { j =>
      (qid * 100L + j) -> round(if (j < 10) 0.95 - j * 0.001 else 0.9 - (j - 10) * 0.001, 4)
    }.toMap
    def sim(a: Long, b: Long): Double = if (a % 100 < 10 && b % 100 < 10) 0.9 else 0.1
    val oneMinus = 1.0 - Lambda
    var selected = Vector.empty[Long]
    (1 to K).map { step =>
      val best = rel.keys.filterNot(selected.contains).map { c =>
        if (step == 1) (c, rel(c), None: Option[Double], rel(c))
        else {
          val m = selected.map(s => sim(c, s)).max
          (c, rel(c), Some(m), Lambda * rel(c) - oneMinus * m)
        }
      }.minBy { case (c, _, _, mmr) => (-mmr, c) }
      selected :+= best._1
      (qid, step, best._1, best._2, best._3, round(best._4, 6))
    }
  }

  /** The distributed MMR greedy ([[Similarity.mmrSelect]], q197's second
    * half) at corpus-scale query counts.
    */
  def mmr(spark: SparkSession, args: Seq[String]): Unit = {
    val nQueries = args.headOption.map(_.toLong).getOrElse(200_000L)

    val packed = plantedMmr(spark, nQueries).localCheckpoint()
    val (_, tFull) = timed(f"mmrSelect over $nQueries%,d queries, closed-form order") {
      val out = Similarity.mmrSelect(spark, packed, K, Lambda).localCheckpoint()
      val n = out.count()
      assert(n == nQueries * K, s"expected ${nQueries * K} rows, got $n")
      // step 1 -> A0 (qid·100); step t >= 2 -> B(t−2) (qid·100 + 10 + t − 2)
      val mismatches = out.where(col("vec_id") =!=
          when(col("step") === 1, col("query_id") * 100L)
            .otherwise(col("query_id") * 100L + 10L + col("step") - 2L))
        .count()
      assert(mismatches == 0, s"$mismatches selections differ from the planted closed form")
      val badMs = out.where(
        (col("step") === 1 && col("max_sim_sel").isNotNull) ||
          (col("step") > 1 && col("max_sim_sel") =!= 0.1)).count()
      assert(badMs == 0, s"$badMs rows with wrong max_sim_sel")
    }

    time("sample queries bit-equal to the driver-side greedy") {
      val sampleQids = Seq(0L, 1L, nQueries / 2, nQueries - 1L).distinct
      val got = Similarity.mmrSelect(spark, packed.where(col("query_id").isin(sampleQids: _*)), K, Lambda)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getDouble(5)))
        .sortBy(t => (t._1, t._2))
      val want = sampleQids.sorted.flatMap(mmrReference)
      assert(got.toSeq == want,
        s"sample rows diverge from the driver-side reference greedy:\ngot  ${got.toSeq}\nwant $want")
    }

    // the per-query groups are independent: one shuffle, no pairwise
    // blow-up, so the wall time should scale ~linearly in the query count
    val quarter = plantedMmr(spark, nQueries / 4).localCheckpoint()
    val (_, tQuarter) = timed(f"mmrSelect over ${nQueries / 4}%,d queries") {
      Similarity.mmrSelect(spark, quarter, K, Lambda).count()
    }
    println(f"[stress]   full/quarter wall ratio ${tFull / math.max(tQuarter, 0.001)}%.1fx for 4x queries")
  }
}
