package graft.operators

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, count, lit}

/** Operator-level invariants on the real testdata (sf0.001) — these
  * complement the DuckDB oracle with structural properties.
  */
class OperatorsSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft_shards")

  private val sf = "/root/testdata/sf0.001"

  /** Top-n most frequent values of a column: the skew probe. */
  private def keyHistogram(df: DataFrame, key: Column, topN: Int): DataFrame =
    df.groupBy(key.as("key")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc).limit(topN)

  test("minhash LSH candidates verified by jaccard are a subset of exact pairs") {
    val exact = Dedup.jaccardPairs(spark, sf, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashPairs(spark, sf, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH produced non-pairs: ${lsh -- exact}")
    // with 0.99-jaccard planted dups, 16/4 banding should catch everything
    assert(lsh === exact)
  }

  test("jaccardPairs fails fast when one shingle would exceed the pair budget") {
    // budget of 0 pairs: any shingle shared by >= 2 docs trips the guard
    // (n(n-1) = 2 > 0; a budget of 1 would need a 3-doc shingle to fire)
    val e = intercept[Exception] {
      Dedup.jaccardPairs(spark, sf, threshold = 0.7,
        maxShingleFreq = 100000L, maxPairsPerShingle = 0L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("pair budget")),
      s"expected the pair-budget error, got: $e")
    // and the default budget admits the default cap (guard never fires)
    assert(Dedup.jaccardPairs(spark, sf, threshold = 0.7).collect().nonEmpty)
  }

  test("simhash pigeonhole join equals brute-force hamming pairs") {
    val viaChunks = Dedup.simhashPairs(spark, sf, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = Dedup.simhashDocs(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (d1, h1) <- docs; (d2, h2) <- docs
      if d1 < d2 && java.lang.Long.bitCount(h1 ^ h2) <= 3
    } yield (d1, d2)).toSet
    assert(viaChunks === brute)
  }

  test("brute-force ANN returns k ranked neighbors per query, no self") {
    val r = Similarity.bruteForceTopK(spark, sf, k = 5, nQueries = 3).collect()
    assert(r.length === 15)
    val byQuery = r.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet === Set(0L, 1L, 2L))
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq === Seq(1, 2, 3, 4, 5))
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cosine"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
      rows.foreach(x =>
        assert(x.getAs[Long]("neighbor_id") !== x.getAs[Long]("query_id")))
    }
  }

  test("IVF ANN cosines are a subset of brute-force scores, ranks valid") {
    val bf = Similarity.bruteForceTopK(spark, sf, k = 200, nQueries = 3)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
        -> r.getAs[Double]("cosine")).toMap
    val ivf = Similarity.ivfTopK(spark, sf, k = 5, nQueries = 3, nCentroids = 16)
      .collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      // every IVF hit must carry the exact brute-force cosine for that pair
      bf.get(key).foreach(exp => assert(math.abs(exp - r.getAs[Double]("cosine")) < 1e-9))
      assert(r.getAs[Int]("rank") >= 1 && r.getAs[Int]("rank") <= 5)
    }
  }

  test("IVF codebook size is corpus-independent (fixed k at every sf)") {
    // the scale property the %stride sample lacked: |centroids| must NOT
    // grow with the corpus, or the assignment broadcast grows unboundedly
    val k = 16
    val atSmall = Similarity.ivfCentroids(spark, "/root/testdata/sf0.001", k).collect()
    val atLarge = Similarity.ivfCentroids(spark, "/root/testdata/sf0.01", k).collect()
    assert(atSmall.length === k)
    assert(atLarge.length === k)
    // deterministic: same call, same codebook
    val again = Similarity.ivfCentroids(spark, "/root/testdata/sf0.001", k).collect()
    assert(atSmall.map(_.getLong(0)).toSeq === again.map(_.getLong(0)).toSeq)
  }

  test("kmeans codebook keeps exactly k centroids and never increases inertia") {
    val k = 8
    val init = Similarity.ivfCentroids(spark, sf, k)
    val trained = Similarity.kmeansCodebook(spark, sf, k = k, iters = 3)
    val rows = trained.collect()
    assert(rows.length === k)
    val dim = init.head().getSeq[Double](1).length
    rows.foreach(r => assert(r.getSeq[Double](1).length === dim))
    // Lloyd's invariant: each assign+mean round cannot increase inertia
    val before = Similarity.codebookInertia(spark, sf, init)
    val after = Similarity.codebookInertia(spark, sf, trained)
    assert(after <= before + 1e-6, s"inertia rose: $before -> $after")
  }

  test("connected components resolve transitive near-dup chains to one canonical id") {
    val s = spark
    import s.implicits._
    // chain 1-2-3-4 (diameter 3), pair {10,11}, singletons 20, 21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("doc1", "doc2")
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("doc_id")
    val got = Curation.connectedComponents(pairs, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L))
  }

  test("star connected components equal propagation on the corpus pairs") {
    val pairs = Dedup.minhashPairs(spark, sf, threshold = 0.7)
      .select(col("doc1"), col("doc2"))
    val docs = graft.core.Tables.documents(spark, sf).select(col("doc_id"))
    val prop = Curation.connectedComponents(pairs, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = Curation.connectedComponentsStar(pairs, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star === prop)
  }

  test("star components resolve a long chain that defeats diameter-bound propagation") {
    val s = spark
    import s.implicits._
    // path graph 0-1-2-...-255: diameter 255
    val n = 256
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val nodes = (0L until n.toLong).toDF("doc_id")
    // min-label propagation moves the label ONE hop per round — a capped
    // round budget cannot finish the chain
    intercept[IllegalStateException] {
      Curation.connectedComponents(chain, nodes, maxRounds = 20).collect()
    }
    // the star rewrites need O(log^2 n) rounds and resolve it fully
    val star = Curation.connectedComponentsStar(chain, nodes, maxRounds = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(star.length === n)
    assert(star.forall(_._2 === 0L), star.filter(_._2 != 0L).take(5).mkString(","))
  }

  test("dedup components agree with minhash pairs on the corpus") {
    val comps = Curation.dedupComponents(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every near-dup pair shares a component; every component head is a
    // fixpoint (maps to itself)
    pairs.foreach { case (a, b) => assert(comps(a) === comps(b)) }
    comps.values.foreach(c => assert(comps(c) === c))
    // docs not in any pair are singletons
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    comps.filterNot(kv => paired(kv._1))
      .foreach { case (d, c) => assert(d === c) }
  }

  test("decontamination flags the overlapping doc under md5 gram hashing") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely unrelated text with no overlap whatsoever in any gram at all"),
      (3L, "the quick brown fox jumps over the lazy dog but differently here")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog every day")
    ).toDF("doc_id", "text")
    val md5Res = Curation.decontaminateAgainst(train, bench, n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(md5Res.exists { case (id, _, nc, f) => id == 1L && nc > 0 && f == 1 })
    assert(md5Res.exists { case (id, _, nc, f) => id == 2L && nc == 0 && f == 0 })
  }

  test("bloom decontamination equals the exact broadcast plan") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely unrelated text with no overlap whatsoever in any gram at all"),
      (3L, "the quick brown fox jumps over the lazy dog but differently here"),
      (4L, "short text")  // < n tokens: zero grams, absent from both outputs
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog every day")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val exact = rows(Curation.decontaminateAgainst(train, bench, n = 8))
    val bloom = rows(Curation.decontaminateBloomAgainst(train, bench, n = 8))
    assert(bloom === exact, "bloom plan diverged from exact")
    assert(!exact.exists(_._1 == 4L), "zero-gram doc must be absent")
  }

  test("bloom decontamination plan carries the sketch prefilter") {
    val plan = Curation.decontaminateBloom(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"no bloom prefilter in plan")
  }

  test("stratified sample caps every stratum deterministically") {
    val a = Curation.stratifiedSample(spark, sf, cap = 5).collect()
    val b = Curation.stratifiedSample(spark, sf, cap = 5).collect()
    assert(a.map(_.toSeq).toSet === b.map(_.toSeq).toSet)
    val perLang = a.groupBy(_.getString(1))
    assert(perLang.nonEmpty)
    perLang.values.foreach { rows =>
      assert(rows.length <= 5)
      assert(rows.map(_.getAs[Int]("sample_rank")).sorted.toSeq ===
        (1 to rows.length))
    }
  }

  test("sequence packing is gapless and contiguous per shard") {
    val rows = Curation.sequencePacking(spark, sf, capacity = 512, nShards = 4)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("start_offset"),
        r.getAs[Long]("bin_id")))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).values.foreach { shardRows =>
      val ordered = shardRows.sortBy(_._1)
      // offsets tile the shard's token stream with no gaps or overlaps
      assert(ordered.head._4 === 0L)
      ordered.sliding(2).foreach {
        case Array((_, _, n, off, _), (_, _, _, off2, _)) =>
          assert(off2 === off + n)
        case _ =>
      }
      ordered.foreach { case (_, _, _, off, bin) =>
        assert(bin === off / 512)
      }
    }
  }

  test("int8 quantization bounds reconstruction error and stays in code range") {
    val rows = Similarity.quantizeEmbeddings(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getAs[Double]("q_scale")
      val codes = r.getAs[String]("q_codes").split(",").map(_.toInt)
      val err = r.getAs[Double]("max_abs_err")
      assert(codes.forall(c => c >= -127 && c <= 127))
      // half-step bound: |x - q*scale/127| <= scale/254 (+ rounding slack)
      assert(err <= scale / 254.0 + 1e-6,
        s"reconstruction error $err exceeds half-step ${scale / 254.0}")
    }
  }

  test("training-shard writer: survivors only, gapless per-shard packing, partitioned layout") {
    val out = tempDir("graft_shards").toString
    val manifest = Curation.writeTrainingShards(spark, sf, out, capacity = 512, nShards = 4)
      .collect()
    val kept = Curation.curationDecisions(spark, sf)
      .where(col("keep") === 1).count()
    assert(manifest.length.toLong === kept, "one manifest row per kept doc")
    // shard directories exist (hive-style partitioning)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("shard=")) > 1, dirs.mkString(","))
    // per-shard streams are gapless: offsets sorted by doc_id chain exactly
    manifest.groupBy(_.getAs[Int]("shard")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("doc_id"))
      sorted.foldLeft(0L) { (expected, r) =>
        assert(r.getAs[Long]("start_offset") === expected,
          s"gap at doc ${r.getAs[Long]("doc_id")}")
        expected + r.getAs[Long]("n_tokens")
      }
    }
    // the bytes on disk agree row-for-row with the pure q99 contract
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Int]("shard"), r.getAs[Long]("bin_id"),
        r.getAs[Long]("start_offset"), r.getAs[Long]("n_tokens"))
    val pure = Curation.shardManifest(spark, sf, capacity = 512, nShards = 4)
      .collect()
    assert(manifest.map(key).sortBy(_._1).toSeq === pure.map(key).sortBy(_._1).toSeq)
  }

  test("salted join equals the plain join on skewed data") {
    val s = spark
    import s.implicits._
    // 10k rows of one hot key + a uniform tail
    val big = ((1 to 10000).map(i => (1, s"v$i")) ++ (1 to 100).map(i => (i, "t")))
      .toDF("k", "payload")
    val small = (1 to 100).map(i => (i, s"dim$i")).toDF("k", "dim")
    val plain = big.join(small, Seq("k")).collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val salted = Skew.saltedJoin(big, small, "k", salt = 8).collect()
      .map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(salted === plain)
    val hist = keyHistogram(big, col("k"), 1).collect().head
    assert(hist.getInt(0) === 1 && hist.getLong(1) === 10001L)
  }

  test("salted join spreads IDENTICAL duplicate rows across salt buckets") {
    val s = spark
    import s.implicits._
    // 8k byte-identical rows of one key — content hashing would put them
    // all in one bucket; the seeded random scatter must not
    val big = Seq.fill(8000)((7, "same-payload")).toDF("k", "payload")
    val small = Seq((7, "dim")).toDF("k", "dim")
    assert(Skew.saltedJoin(big, small, "k", salt = 8).count() === 8000)
    val buckets = big.withColumn("b",
        org.apache.spark.sql.functions.floor(
          org.apache.spark.sql.functions.rand(20260812L) * 8))
      .groupBy("b").count().collect()
    assert(buckets.length > 1, "duplicates must land in multiple buckets")
  }

  test("multimodal decode produces valid metadata end to end") {
    val summary = Multimodal.metaSummary(spark, sf)
    assert(summary.count() > 0)
    // decode path runs over the typed Dataset
    val meta = Multimodal.decodeMeta(spark, sf).head()
    assert(meta.n_bytes > 0 && meta.width >= 64 && meta.ok)
  }
}
