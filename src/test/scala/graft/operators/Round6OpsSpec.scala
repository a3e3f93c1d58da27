package graft.operators

import graft.{SparkTestBase, TempDirs}
import graft.analytics.TextAnalytics
import org.apache.spark.sql.functions.{col, unix_micros}

/** Semantics of the round-6 curation operators: intra-document repeated
  * n-grams, per-source KL drift, token-budget selection, dedup cluster
  * stats, winnow containment, and decontamination spans. Crafted fixtures
  * where the expectation is computable by hand; the DuckDB oracle covers
  * exact corpus values at sf0.01.
  */
class Round6OpsSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("convlag")

  private val sf = "/root/testdata/sf0.001"

  private def roundAt(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble
  private def fixedPoint(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  test("repeated grams: alternating text replays by hand; unique text reports -1") {
    val s = spark
    import s.implicits._
    // doc 1, n=2: grams "a b","b a","a b","b a","a b","b a" at pos 0..5 —
    // first occurrences at 0 and 1, everything later repeats
    val docs = Seq(
      (1L, "a b a b a b a"),
      (2L, "all words here differ now")).toDF("doc_id", "text")
    val got = TextAnalytics.repeatedGramsOf(docs, n = 2).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))).toMap
    assert(got(1L) === ((6L, 4L, roundAt(4.0 / 6, 6), 2)))
    assert(got(2L) === ((4L, 0L, 0.0, -1)))
  }

  test("repeated grams: documents shorter than n produce no row") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b"), (2L, "x y z")).toDF("doc_id", "text")
    val got = TextAnalytics.repeatedGramsOf(docs, n = 3).collect()
    assert(got.map(_.getLong(0)).toSet === Set(2L))
  }

  test("source KL drift: two-source fixture replays the smoothless formula") {
    val s = spark
    import s.implicits._
    // srcA: 4 tokens (a a a b), srcB: 4 tokens (b b b c)
    // corpus: a=3, b=4, c=1, total 8
    val docs = Seq(
      ("srcA", "a a a b"),
      ("srcB", "b b b c")).toDF("source", "text")
    val got = TextAnalytics.sourceKlDriftOf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    def term(cSw: Long, nS: Long, cW: Long, nC: Long): Double =
      roundAt((cSw.toDouble / nS) * math.log((cSw.toDouble / nS) / (cW.toDouble / nC)), 6)
    def kl(terms: Seq[Double]): Double =
      roundAt(terms.map(fixedPoint).sum / 1e6, 6)
    assert(got("srcA") ===
      ((4L, 2L, kl(Seq(term(3, 4, 3, 8), term(1, 4, 4, 8))))))
    assert(got("srcB") ===
      ((4L, 2L, kl(Seq(term(3, 4, 4, 8), term(1, 4, 1, 8))))))
    // a balanced source matches the corpus: KL must exceed 0 for skewed ones
    assert(got("srcA")._3 > 0.0)
  }

  test("token budget: per-source prefix in score order, cumulative chain holds") {
    val rows = Curation.tokenBudgetSelection(spark, sf, budget = 2000L).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (_, src) =>
      val ordered = src.sortBy { case (_, score, id, _, _) => (-score, id) }
      var cum = 0L
      ordered.foreach { case (_, _, _, n, c) =>
        cum += n
        assert(c === cum, "cumulative token total must chain in score order")
        assert(c <= 2000L)
      }
    }
  }

  test("cluster stats: token totals reconcile with the corpus and the canonicals") {
    val stats = Curation.dedupClusterStats(spark, sf).collect()
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.map(_.getLong(1)).sum === docs.size.toLong) // members cover corpus
    assert(stats.map(_.getLong(2)).sum === docs.values.sum)  // tokens reconcile
    stats.foreach { r =>
      val (comp, total, dup) = (r.getLong(0), r.getLong(2), r.getLong(3))
      // duplicate tokens = total minus the canonical member's own tokens
      // only when the canonical is the single non-duplicate (min-label ⇒
      // canonical == component id and is always a member)
      assert(dup === total - docs(comp) ||
        r.getLong(1) > 1, s"component $comp")
      assert(dup >= 0L && dup <= total)
    }
    // at least one real cluster exists at this sf
    assert(stats.exists(_.getLong(1) > 1))
  }

  test("winnow containment: bounded by 1, covers the symmetric near-dup pairs") {
    val rows = Dedup.winnowContainment(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getDouble(3)
      assert(c >= 0.5 && c <= 1.0)
    }
    // a pair passing the symmetric jaccard-0.8 verify shares most shingles,
    // so its fingerprint containment clears the 0.5 default too
    val sym = Dedup.winnowPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cont = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sym.subsetOf(cont))
  }

  test("zipf audit: driver-side regression replay matches; slope is negative") {
    val r = TextAnalytics.zipfAudit(spark, sf).collect().head
    val (n, slope, intercept) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
    // replay: word frequencies from the corpus, top-1000 by (freq desc, word)
    val freqs = graft.core.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("word"))
      .groupBy(col("word")).count().collect()
      .map(row => row.getString(0) -> row.getLong(1))
      .sortBy { case (w, c) => (-c, w) }.take(1000)
    val terms = freqs.zipWithIndex.map { case ((_, c), i) =>
      (roundAt(math.log((i + 1).toDouble), 6), roundAt(math.log(c.toDouble), 6))
    }
    def fpSum(xs: Seq[Double]): Double = roundAt(xs.map(fixedPoint).sum / 1e6, 6)
    val (sx, sy) = (fpSum(terms.map(_._1).toSeq), fpSum(terms.map(_._2).toSeq))
    val sxy = fpSum(terms.map(t => roundAt(t._1 * t._2, 6)).toSeq)
    val sxx = fpSum(terms.map(t => roundAt(t._1 * t._1, 6)).toSeq)
    val m = roundAt((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    val b = roundAt((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
    assert(n === terms.length.toLong)
    assert(slope === m)
    assert(intercept === b)
    assert(slope < 0.0, "natural-ish text must have a decaying head")
  }

  test("packing efficiency: per-shard totals reconcile with the corpus") {
    val rows = Curation.packingEfficiency(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.length === 8)
    assert(rows.map(_._2).sum === 500L)
    val tokens = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0) % 8, r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    rows.foreach { case (shard, _, total, bins, util) =>
      assert(total === tokens(shard.toLong))
      assert(bins >= 1L)
      assert(util > 0.0)
    }
  }

  test("dedup survival: per-source canonicals reconcile with the component table") {
    val rows = Curation.dedupSurvivalBySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._2).sum === 500L)
    val comps = Curation.dedupComponents(spark, sf).collect()
    val nCanonical = comps.count(r => r.getLong(0) == r.getLong(1)).toLong
    assert(rows.map(_._3).sum === nCanonical)
    rows.foreach { case (_, n, c, rate) =>
      assert(c <= n)
      assert(rate === roundAt(c.toDouble / n, 6))
    }
  }

  test("normalized dedup: case/punct/whitespace variants collapse, distinct text survives") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "Hello, World!  This is FINE."),
      (2L, "hello world this is fine"),
      (3L, "a different document")).toDF("doc_id", "text")
    val got = Dedup.normalizedDedupOf(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getInt(4))).toMap
    assert(got(1L) === ((2L, 1L, 0)))
    assert(got(2L) === ((2L, 1L, 1))) // the later variant is the duplicate
    assert(got(3L) === ((1L, 3L, 0)))
  }

  test("route agreement: exclusives reconcile and match the two pair sets") {
    val r = Dedup.dedupRouteAgreement(spark, sf).collect().head
    val (l, w, c, lo, wo) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(l === c + lo)
    assert(w === c + wo)
    assert(l === Dedup.minhashPairs(spark, sf, 0.7).count())
    assert(w === Dedup.winnowPairs(spark, sf, 0.7).count())
    assert(c > 0L, "the routes must agree on the planted near-dups")
  }

  test("bpe pairs: occurrence-weighted adjacent character pairs count exactly") {
    // corpus-level check at sf0.001: the count of any returned pair equals
    // a driver-side recount over the raw tokens
    val rows = TextAnalytics.bpePairCounts(spark, sf, k = 10).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(rows.length === 10)
    assert(rows.map(_._2).toSeq === rows.map(_._2).sortBy(-_).toSeq)
    val tokens = graft.core.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(col("text"), " ")).as("w"))
      .collect().map(_.getString(0))
    val counts = tokens.filter(_.length >= 2)
      .flatMap(w => w.sliding(2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (p, n) => assert(counts(p) === n, s"pair $p") }
  }

  test("length histogram: bins are exact powers of two and totals reconcile") {
    val rows = TextAnalytics.lengthHistogram(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._2).sum === 500L)
    rows.foreach { case (bin, _, _, mn, mx) =>
      assert(mn >= (1L << bin) && mx < (1L << (bin + 1)),
        s"bin $bin bounds [$mn, $mx]")
    }
  }

  test("projected near-dups: a pre-filtered subset of the exact semantic pairs") {
    val proj = Similarity.projectedNearDups(spark, sf).collect()
    assert(proj.nonEmpty)
    proj.foreach { r =>
      assert(r.getDouble(3) >= 0.0)  // pre-filter held
      assert(r.getDouble(4) >= 0.3)  // exact threshold decides
    }
    val exact = Similarity.semanticNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val projSet = proj.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(projSet.subsetOf(exact),
      "the pre-filter may only drop pairs, never add them")
  }

  test("incremental near-dup equals the cross-parity slice of the LSH pipeline") {
    val inc = Dedup.incrementalNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    inc.foreach { case (b, h, j) =>
      assert(b % 2 != 0 && h % 2 == 0, "batch odd, history even")
      assert(j >= 0.7)
    }
    // same bands, same verify: the q25 pairs with mixed parity are exactly
    // the incremental hit list (normalized to (odd, even) order)
    val crossParity = Dedup.minhashPairs(spark, sf, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 2 == 0) != (b % 2 == 0) }
      .map { case (a, b) => if (a % 2 != 0) (a, b) else (b, a) }.toSet
    assert(inc.map(t => (t._1, t._2)).toSet === crossParity)
  }

  test("triplet mining: margins hold and positives agree with the semantic pairs") {
    val rows = Similarity.tripletMining(spark, sf).collect()
    assert(rows.nonEmpty)
    val semantic = Similarity.semanticNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    rows.foreach { r =>
      val (a, p, pc, n, nc) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))
      assert(pc >= 0.3 && nc < 0.2)
      assert(p != a && n != a && p != n)
      val pair = (math.min(a, p), math.max(a, p))
      assert(semantic.contains(pair), s"positive pair $pair must be a semantic near-dup")
    }
  }

  test("excision: quoted trigram cut and rebuilt; clean text survives byte-identical") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "a b x y z c"),
      (2L, "untouched words entirely")).toDF("doc_id", "text")
    val bench = Seq((100L, "x y z")).toDF("doc_id", "text")
    val got = Curation.exciseContaminationAgainst(train, bench, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) === ((6L, 3L, "a b c")))
    assert(got(2L) === ((3L, 0L, "untouched words entirely")))
  }

  test("winsorize: clip band honored, at most loPct of a source sits below it") {
    val rows = TextAnalytics.winsorizedScores(spark, sf).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, score, lo, hi, w) =>
      assert(lo <= hi)
      assert(w >= lo && w <= hi)
      if (score >= lo && score <= hi) assert(w === score)
    }
    // the bound is defined on 2-dp BINS: strictly-lower bins hold < 5% of
    // the source (the bin containing the bound may straddle the cut)
    rows.groupBy(_._1).foreach { case (src, docs) =>
      val below = docs.count(d => roundAt(d._2, 2) < d._3 - 1e-9)
      assert(below.toDouble / docs.size < 0.05, s"source $src clips too much")
    }
  }

  test("survivor mix: counts and shares reconcile with the verdict") {
    val rows = Curation.survivorMixShift(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(rows.map(_._2).sum === 500L)
    val kept = Curation.curationDecisions(spark, sf)
      .where(col("keep") === 1).count()
    assert(rows.map(_._3).sum === kept)
    rows.foreach { case (_, _, _, raw, surv, delta) =>
      assert(delta === roundAt(surv - raw, 6))
    }
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4)
  }

  test("benchmark contamination: only bench docs report, with positive blast radius") {
    val rows = Curation.benchmarkContamination(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (b, nd, ng) =>
      assert(b % 97 === 0)
      assert(nd >= 1L && ng >= 1L)
    }
  }

  test("session-sequence dedup: group stats reconcile; replay score rolls up") {
    val rows = graft.analytics.Sessions.sessionSequenceDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2), r.getLong(4), r.getLong(5), r.getInt(6)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (_, group) =>
      assert(group.forall(_._3 === group.length.toLong))
      assert(group.forall(_._4 === group.map(_._1).distinct.length.toLong))
      assert(group.forall(_._5 === (if (group.length > 1) 1 else 0)))
    }
    val replay = graft.analytics.Sessions.userReplayScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(replay.map(_._2).sum === rows.length.toLong)
    val perUser = rows.groupBy(_._1)
    replay.foreach { case (u, n, rep, frac) =>
      assert(n === perUser(u).length.toLong)
      assert(rep === perUser(u).count(_._5 == 1).toLong)
      assert(frac === roundAt(rep.toDouble / n, 6))
    }
  }

  test("shard checksums: commutative hash sums replay against the manifest") {
    val sums = Curation.shardChecksums(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2),
        java.math.BigInteger.valueOf(r.getLong(3)))).toMap
    val manifest = Curation.shardManifest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(4)))
    assert(sums.values.map(_._1).sum === manifest.length.toLong)
    // driver-side replay: md5-prefix hash of each kept doc's text
    val texts = graft.core.Tables.documents(spark, sf)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    def h60(t: String): BigInt = BigInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
        .take(15), 16)
    manifest.groupBy(_._2).foreach { case (shard, docs) =>
      val (n, toks, sum) = sums(shard)
      assert(n === docs.length.toLong)
      assert(toks === docs.map(_._3).sum)
      assert(BigInt(sum) ===
        (docs.map(d => h60(texts(d._1))).sum mod BigInt(1000000000000L)),
        s"shard $shard")
    }
  }

  test("ivf-pq: 5 ranked rows per query, ADC distances agree with full-scan PQ") {
    val rows = Similarity.ivfPqTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 10L).toSet)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to 5))
      assert(rs.forall(_.getLong(1) != q))
      val ordered = rs.sortBy(_.getInt(3))
        .map(r => (r.getDouble(2), r.getLong(1))).toSeq
      assert(ordered === ordered.sorted)
    }
    // where a neighbor also appears in the unpruned ADC top-k, the two
    // pipelines computed the identical asymmetric distance
    val full = Similarity.pqTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    var overlap = 0
    rows.foreach { r =>
      full.get((r.getLong(0), r.getLong(1))).foreach { d =>
        assert(d === r.getDouble(2)); overlap += 1
      }
    }
    assert(overlap > 0, "probing must retain some of the full top-k")
  }

  test("threshold sweep: monotone non-increasing, anchored to the real pipelines") {
    val rows = Dedup.dedupThresholdSweep(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0.5, 0.6, 0.7, 0.8, 0.9))
    assert(rows.map(_._2).distinct.length === 1, "candidate count is threshold-free")
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._3 >= hi._3, "raising the threshold cannot add pairs")
    }
    // the 0.7 row must agree with the production pipeline's pair count
    val at07 = rows.find(_._1 == 0.7).get._3
    assert(at07 === Dedup.minhashPairs(spark, sf, 0.7).count())
  }

  test("split drift: every split present, near-zero divergence for the hash draw") {
    val rows = Curation.splitDriftAudit(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(rows.keySet === Set("train", "val", "test"))
    assert(rows.values.map(_._1).sum > 0L)
    // a pinned-hash split is content-blind: KL stays small (loose bound —
    // the val/test slices are tiny at sf0.001, so estimation noise is real)
    rows.foreach { case (split, (_, kl)) =>
      assert(kl >= 0.0 && kl < 1.0, s"split $split diverges implausibly: $kl")
    }
    // train dominates the mass, so its divergence is the smallest
    assert(rows("train")._2 <= rows("val")._2)
    assert(rows("train")._2 <= rows("test")._2)
  }

  test("quality canonical: one keep per component, argmax score with doc_id tiebreak") {
    val rows = Curation.qualityCanonical(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // total coverage: every document appears exactly once
    assert(rows.length === graft.core.Tables.documents(spark, sf).count().toInt)
    assert(rows.map(_._1).distinct.length === rows.length)
    val byComp = rows.groupBy(_._2)
    byComp.foreach { case (comp, members) =>
      val keeps = members.filter(_._4 == 1)
      assert(keeps.length === 1, s"component $comp keeps ${keeps.length}")
      // the keep is the best (score desc, doc_id asc) member
      val expect = members.minBy(m => (-m._3, m._1))._1
      assert(keeps.head._1 === expect, s"component $comp kept the wrong doc")
    }
    // singleton components always keep themselves
    byComp.filter(_._2.length == 1).foreach { case (_, Array(m)) =>
      assert(m._4 === 1)
    }
    // agreement with the resolver: same component assignment per doc
    val comp = Curation.dedupComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (doc, c, _, _) => assert(comp(doc) === c) }
  }

  test("rrf fusion: contributions replay by hand, both rankers' top-1 surface") {
    val rows = Similarity.hybridRetrievalRRF(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // every fused row replays 1/(60+rank) fixed-point by hand
    rows.foreach { case (doc, rl, rs, rrf) =>
      def contrib(r: Int): Long =
        if (r < 0) 0L else math.round(1e6 / (60.0 + r))
      assert(rrf === (contrib(rl) + contrib(rs)) / 1e6,
        s"doc $doc fusion mismatch")
      assert(rl != -1 || rs != -1, s"doc $doc in neither ranking")
      assert(rl >= -1 && rl <= 50 && rs >= -1 && rs <= 50)
    }
    // ranks are unique within each ranker
    val lex = rows.filter(_._2 > 0).map(_._2)
    assert(lex.distinct.length === lex.length)
    val sem = rows.filter(_._3 > 0).map(_._3)
    assert(sem.distinct.length === sem.length)
    // the semantic ranker's top-1 is the query vector itself (cosine 1)
    assert(rows.find(_._3 == 1).map(_._1) === Some(0L))
    // a doc ranked top-1 by both rankers would score the max possible
    val maxRrf = rows.map(_._4).max
    assert(maxRrf <= 2 * math.round(1e6 / 61.0) / 1e6)
  }

  test("leakage-aware split: near-dup pairs never straddle a split") {
    val split = Curation.leakageAwareSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    // total coverage, every doc exactly once
    assert(split.size === graft.core.Tables.documents(spark, sf).count().toInt)
    // the theorem: both ends of every near-dup pair share a split
    val pairs = Dedup.minhashPairs(spark, sf, 0.7)
      .select(col("doc1"), col("doc2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must exercise the repair")
    pairs.foreach { case (a, b) =>
      assert(split(a)._2 === split(b)._2, s"pair ($a,$b) straddles splits")
      assert(split(a)._1 === split(b)._1, s"pair ($a,$b) in two components")
    }
    // all three splits drawn, train dominating
    val bySplit = split.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("val") + bySplit("test"))
    // one draw per component: a component's split is a function of its id
    split.values.groupBy(_._1).foreach { case (comp, members) =>
      assert(members.map(_._2).toSet.size === 1, s"component $comp split twice")
    }
  }

  test("embedding audit: driver-side norm fold replays every per-label row") {
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = vecs.groupBy(_._1).map { case (label, vs) =>
      val norms = vs.map { case (_, v) =>
        round6(math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x)))
      }
      val meanFp = norms.map(n => math.round(n * 1e6)).sum
      label -> (vs.length.toLong, norms.min, norms.max,
        round6(meanFp / 1e6 / vs.length))
    }
    val got = Similarity.embeddingAudit(spark, sf).collect()
    assert(got.length === expect.size)
    got.foreach { r =>
      val (n, mn, mx, mean) = expect(r.getInt(0))
      assert(r.getLong(1) === n)
      assert(r.getLong(2) === 0L, "synthetic embeddings are non-degenerate")
      assert((r.getInt(3), r.getInt(4)) === ((64, 64)))
      assert((r.getDouble(5), r.getDouble(6), r.getDouble(7)) === ((mn, mx, mean)))
    }
  }

  test("feature correlation: BigInt replay matches; r bounded; pairs complete") {
    val feats = TextAnalytics.CorrFeatures
    val m = graft.functions.Text.qualityMetrics(col("text")).toMap
    val rowsFp = graft.core.Tables.documents(spark, sf)
      .select(feats.map(f => org.apache.spark.sql.functions
        .round(m(f).cast("double") * 1e6).cast("long").as(f)): _*)
      .collect().map(r => feats.indices.map(r.getLong).toVector)
    val n = BigInt(rowsFp.length)
    // a zero-variance feature (constant at this sf) has no defined r: NULL
    def pearson(i: Int, j: Int): Option[Double] = {
      val (sx, sy) = (rowsFp.map(r => BigInt(r(i))).sum, rowsFp.map(r => BigInt(r(j))).sum)
      val sxx = rowsFp.map(r => BigInt(r(i)) * r(i)).sum
      val syy = rowsFp.map(r => BigInt(r(j)) * r(j)).sum
      val sxy = rowsFp.map(r => BigInt(r(i)) * r(j)).sum
      val (dx, dy) = (n * sxx - sx * sx, n * syy - sy * sy)
      if (dx == 0 || dy == 0) None
      else {
        val num = (n * sxy - sx * sy).toDouble
        val den = math.sqrt(dx.toDouble) * math.sqrt(dy.toDouble)
        Some(BigDecimal(num / den).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }
    val got = TextAnalytics.featureCorrelation(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got.size === 10, "5 features -> 10 unordered pairs")
    var defined = 0
    got.foreach { case ((fx, fy), (cnt, r)) =>
      assert(cnt === rowsFp.length.toLong)
      r.foreach(v => assert(math.abs(v) <= 1.0, s"($fx,$fy) out of range: $v"))
      if (r.isDefined) defined += 1
      assert(r === pearson(feats.indexOf(fx), feats.indexOf(fy)),
        s"($fx,$fy) replay mismatch")
    }
    assert(defined >= 6, "most pairs must have defined correlations")
  }

  test("epoch plan: integer replay from token counts; budget conserved") {
    val perSrc = graft.core.Tables.documents(spark, sf)
      .select(col("source"),
        org.apache.spark.sql.functions.size(
          graft.functions.Text.tokens(col("text"))).cast("long").as("nt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(v => (v.size.toLong, v.map(_._2).sum)).toMap
    val budget = perSrc.values.map(_._2).sum * 150L / 100L
    val shares = Curation.DomainTargets.toMap
    val got = Curation.mixtureEpochPlan(spark, sf).collect()
    assert(got.length === 20)
    got.foreach { r =>
      val src = r.getString(0)
      val (nDocs, nTok) = perSrc(src)
      assert((r.getLong(1), r.getLong(2)) === ((nDocs, nTok)))
      val target = math.round(budget * shares(src))
      assert(r.getLong(4) === target, s"$src target")
      val epochsFp = math.min(4000000L, target * 1000000L / nTok)
      assert(r.getDouble(5) === BigDecimal(epochsFp / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, s"$src epochs")
      assert(r.getInt(6) === (if (epochsFp > 1000000L) 1 else 0))
    }
    // pinned shares sum to 1, so targets reconcile with the budget
    val targetSum = got.map(_.getLong(4)).sum
    assert(math.abs(targetSum - budget) <= 20, "rounding only")
    // head domains up-sample, tail domains down-sample (shares are monotone)
    assert(got.map(_.getInt(6)).sum > 0)
  }

  test("triangles: K4 and a 3-cycle replay by hand; paths contribute none") {
    val s = spark
    import s.implicits._
    // K4 on 1-4 (4 triangles, 3 per vertex), path 5-6-7 (none),
    // triangle 8-9-10 (1 each), isolated edge 11-12 (none)
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L),
      (8L, 9L), (8L, 10L), (9L, 10L),
      (11L, 12L)).toDF("doc1", "doc2")
    val got = Curation.triangleCountsOf(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      8L -> 1L, 9L -> 1L, 10L -> 1L))
    // corpus sanity: participation total is divisible by 3 and non-empty
    val corpus = Curation.triangleCounts(spark, sf).collect().map(_.getLong(1))
    assert(corpus.nonEmpty, "fixture corpus must contain triangles")
    assert(corpus.sum % 3 === 0)
  }

  test("cross-source matrix: reconciles with the pair list; canonical order") {
    val srcOf = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.minhashPairs(spark, sf, 0.7)
      .select(col("doc1"), col("doc2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.map { case (a, b) =>
      val (s1, s2) = (srcOf(a), srcOf(b))
      if (s1 <= s2) (s1, s2) else (s2, s1)
    }.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Dedup.crossSourceMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expect)
    got.keys.foreach { case (s1, s2) => assert(s1 <= s2) }
    assert(got.values.sum === pairs.length.toLong)
  }

  test("novelty: driver-side trigram replay matches every document") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val gramSets = docs.map { case (id, text) =>
      id -> text.split(" ").sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.toMap
    val dfCount = gramSets.values.flatten.toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val got = TextAnalytics.noveltyScore(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.size === gramSets.count(_._2.nonEmpty))
    gramSets.filter(_._2.nonEmpty).foreach { case (id, grams) =>
      val uniq = grams.count(g => dfCount(g) == 1).toLong
      val (n, u, nov) = got(id)
      assert(n === grams.size.toLong, s"doc $id gram count")
      assert(u === uniq, s"doc $id unique count")
      assert(nov === BigDecimal(uniq.toDouble / grams.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // the signal must discriminate at this sf (not all-0 or all-1)
    val novs = got.values.map(_._3).toSet
    assert(novs.size > 10, "novelty collapsed to a constant")
  }

  test("weighted sample: exponential-clock keys replay; selection is top-k") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.Text.modelScore(col("text")).as("ms")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def hash32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(
        md.digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    }
    val keys = docs.map { case (id, ms) =>
      val u = (hash32(s"wsample:$id") + 1L).toDouble / 4294967296.0
      val w = ms + 2.0
      (id, round6(w), round6(-math.log(u) / w))
    }
    val expect = keys.sortBy(t => (t._3, t._1)).take(100)
    val got = Curation.weightedSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    assert(got.sortBy(t => (t._3, t._1)).toSeq === expect.toSeq)
    got.foreach { case (_, w, key) =>
      assert(w > 0.0, "weights must stay positive")
      assert(key >= 0.0, "clock keys are non-negative")
    }
  }

  test("incremental components: batch edges merge resolved history clusters") {
    val s = spark
    import s.implicits._
    val docs = (1L to 8L).toDF("doc_id")
    // history resolved two clusters {1,2} and {3,4}; 5-8 were singletons
    val history = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L),
      (5L, 5L), (6L, 6L), (7L, 7L), (8L, 8L)).toDF("doc_id", "component")
    // batch: bridge the two clusters via 2-3, and attach 6 to 5
    val batch = Seq((2L, 3L), (5L, 6L)).toDF("doc1", "doc2")
    val got = Curation.incrementalComponentsOf(history, batch, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
    // corpus theorem: incremental equals the full recompute exactly
    val inc = Curation.incrementalComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Curation.dedupComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc === full)
  }

  test("oov rate: vocabulary head replayed driver-side; rates replay exactly") {
    val docs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val counts = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size)
    val vocab = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(100)
      .map(_._1).toSet
    val got = TextAnalytics.oovRate(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.size === docs.length)
    docs.foreach { case (id, toks) =>
      val oov = toks.count(t => !vocab(t)).toLong
      val (n, o, rate) = got(id)
      assert(n === toks.size.toLong, s"doc $id token count")
      assert(o === oov, s"doc $id oov count")
      assert(rate === BigDecimal(oov.toDouble / toks.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("transition matrix: driver-side replay matches; rows normalize to 1") {
    val events = graft.core.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val expect = events.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      val types = evs.sortBy(e => (e._2, e._3)).map(_._4).toSeq
      types.zip(types.drop(1))
    }.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val got = graft.analytics.Funnels.transitionMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.map { case (k, v) => k -> v._1 } === expect)
    // each from-row's probabilities sum to 1 (fixed-point rounding slack)
    got.keys.map(_._1).toSeq.distinct.foreach { from =>
      val ps = got.collect { case ((f, _), (_, p)) if f == from => p }
      assert(math.abs(ps.sum - 1.0) < 1e-4, s"$from row sums to ${ps.sum}")
    }
  }

  test("psi drift: parity cohorts are iid, so psi stays small; replay by hand") {
    val events = graft.core.Tables.events(spark, sf)
      .select(col("event_type"), col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = events.groupBy(_._1).map { case (tpe, evs) =>
      val bins = evs.groupBy(e => math.floor(e._3 / 25.0).toLong)
        .map { case (b, es) =>
          b -> (es.count(_._2 % 2 == 0).toLong, es.count(_._2 % 2 == 1).toLong)
        }
      val (ta, tb) = (bins.values.map(_._1).sum, bins.values.map(_._2).sum)
      val terms = bins.values.map { case (na, nb) =>
        if (na > 0 && nb > 0) {
          val (p, q) = (na.toDouble / ta, nb.toDouble / tb)
          math.round(round6((p - q) * math.log(p / q)) * 1e6)
        } else 0L
      }
      val onesided = bins.values.count { case (na, nb) => na == 0 || nb == 0 }
      tpe -> (bins.size.toLong, onesided.toLong, round6(terms.sum / 1e6))
    }
    val got = graft.analytics.Relational.valueDriftPsi(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got === expect)
    // event_id parity is content-blind, but sf0.001 bins are thin (a few
    // events per bin), so sampling noise inflates PSI well past the 0.2
    // production alarm line — bound loosely, the replay above is exact
    got.values.foreach { case (_, _, psi) =>
      assert(psi >= 0.0 && psi < 2.0)
    }
  }

  test("estimator margins: bins reconcile with the audit; errors bounded") {
    val audit = Dedup.minhashEstimatorAudit(spark, sf).collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    val got = Dedup.estimatorMarginHistogram(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(4)))
    assert(got.map(_._2._1).sum === audit.length.toLong)
    got.foreach { case (bin, (n, maxErr)) =>
      val inBin = audit.filter(a => math.floor(a._1 / 0.05).toLong == bin)
      assert(inBin.length.toLong === n, s"bin $bin count")
      assert(inBin.map(_._3).max === maxErr, s"bin $bin max err")
    }
    // every pair passed the 0.7 exact threshold; floor(0.7/0.05) is 13 in
    // IEEE arithmetic (0.7/0.05 = 13.999…98), so bins start at 13
    assert(got.map(_._1).min >= 13L)
  }

  test("edge support: K4 edges carry 2, triangle edges 1, chains and paths 0") {
    val s = spark
    import s.implicits._
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L),
      (8L, 9L), (8L, 10L), (9L, 10L),
      (11L, 12L)).toDF("doc1", "doc2")
    val got = Curation.edgeSupportOf(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getInt(3))).toMap
    assert(got.size === 12, "every input edge survives the left join")
    Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)).foreach(e =>
      assert(got(e) === ((2L, 0)), s"K4 edge $e"))
    Seq((8L, 9L), (8L, 10L), (9L, 10L)).foreach(e =>
      assert(got(e) === ((1L, 0)), s"triangle edge $e"))
    Seq((5L, 6L), (6L, 7L), (11L, 12L)).foreach(e =>
      assert(got(e) === ((0L, 1)), s"chain link $e"))
    // corpus reconciliation: summed support = 3 × triangle count
    val support = Curation.edgeSupport(spark, sf).collect().map(_.getLong(2)).sum
    val triangles = Curation.triangleCounts(spark, sf).collect()
      .map(_.getLong(1)).sum / 3
    assert(support === triangles * 3)
  }

  test("lang confusion: reconciles with per-doc predictions; rows normalize") {
    val preds = TextAnalytics.langPredictions(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val expect = preds.groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val got = TextAnalytics.langConfusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got.map { case (k, v) => k -> v._1 } === expect)
    assert(got.values.map(_._1).sum === preds.length.toLong)
    got.keys.map(_._1).toSeq.distinct.foreach { actual =>
      val rates = got.collect { case ((a, _), (_, r)) if a == actual => r }
      assert(math.abs(rates.sum - 1.0) < 1e-4, s"$actual rates sum ${rates.sum}")
    }
  }

  test("supported components: refines the full resolution, breaks only chains") {
    val full = Curation.dedupComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hard = Curation.supportedComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hard.keySet === full.keySet, "coverage identical")
    // refinement: docs sharing a hardened component share the full one
    hard.groupBy(_._2).values.foreach { members =>
      assert(members.map(m => full(m._1)).toSet.size === 1,
        "hardened clusters never span full-resolution clusters")
    }
    // the hardened resolution has at least as many clusters
    assert(hard.values.toSet.size >= full.values.toSet.size)
    // chain links exist in this corpus, so some cluster must actually split
    val chainLinks = Curation.edgeSupport(spark, sf).collect()
      .count(_.getInt(3) == 1)
    assert(chainLinks > 0, "fixture must exercise the split")
    assert(hard.values.toSet.size > full.values.toSet.size)
  }

  test("user entropy: driver-side replay; uniform-bound and flag logic hold") {
    val events = graft.core.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = events.groupBy(_._1).map { case (u, evs) =>
      val byType = evs.groupBy(_._2).view.mapValues(_.size).toMap
      val n = evs.size
      val terms = byType.values.map { c =>
        val p = c.toDouble / n
        math.round(round6(-p * math.log(p)) * 1e6)
      }
      u -> (n.toLong, byType.size.toLong, round6(terms.sum / 1e6))
    }
    val got = graft.analytics.Funnels.userEntropy(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
      .toMap
    assert(got.size === expect.size)
    expect.foreach { case (u, (n, k, h)) =>
      val (gn, gk, gh, flag) = got(u)
      assert((gn, gk, gh) === ((n, k, h)), s"user $u")
      // entropy of a k-type distribution is bounded by ln(k) (+ rounding)
      assert(gh >= 0.0 && gh <= math.log(k.toDouble) + 1e-5)
      assert(flag === (if (n >= 20 && h < 0.5) 1 else 0))
    }
  }

  test("rfm segments: driver-side replay; band and segment logic total") {
    val events = graft.core.Tables.events(spark, sf)
      .select(col("user_id"),
        org.apache.spark.sql.functions.to_date(col("ts")).cast("string"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), java.time.LocalDate.parse(r.getString(1)),
        r.getString(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val anchor = events.map(_._2).max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    val got = graft.analytics.Funnels.rfmSegments(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getInt(4), r.getInt(5), r.getInt(6), r.getString(7))).toMap
    val byUser = events.groupBy(_._1)
    assert(got.size === byUser.size)
    byUser.foreach { case (u, evs) =>
      val rec = java.time.temporal.ChronoUnit.DAYS.between(
        evs.map(_._2).max(Ordering.by((d: java.time.LocalDate) => d.toEpochDay)), anchor)
      val freq = evs.size.toLong
      val mon = BigDecimal(evs.collect {
        case (_, _, "purchase", Some(v)) => v
      }.sum).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (gr, gf, gm, rs, fs, ms, seg) = got(u)
      assert((gr, gf, gm) === ((rec, freq, mon)), s"user $u rfm")
      assert(rs === (if (rec <= 7) 3 else if (rec <= 30) 2 else 1))
      assert(fs === (if (freq >= 50) 3 else if (freq >= 10) 2 else 1))
      assert(ms === (if (mon >= 500.0) 3 else if (mon >= 50.0) 2 else 1))
      val expSeg =
        if (rs == 3 && fs == 3 && ms == 3) "champion"
        else if (rs >= 2 && fs >= 2) "loyal"
        else if (rs == 1 && fs >= 2) "at_risk"
        else if (rs >= 2 && fs == 1) "new"
        else "hibernating"
      assert(seg === expSeg, s"user $u segment")
    }
  }

  test("item co-occurrence: driver-side basket replay; lift symmetry holds") {
    val rows = graft.core.Tables.events(spark, sf)
      .select(col("user_id"),
        org.apache.spark.sql.functions.to_date(col("ts")).cast("string"),
        org.apache.spark.sql.functions
          .get_json_object(col("props"), "$.k").cast("int")).collect()
      .filter(!_.isNullAt(2))
      .map(r => ((r.getLong(0), r.getString(1)), r.getInt(2)))
    val baskets = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nBaskets = baskets.size.toLong
    val itemCount = baskets.values.flatten.toSeq
      .groupBy(identity(_)).view.mapValues(_.size.toLong).toMap
    val pairCount = baskets.values.toSeq.flatMap { items =>
      val s = items.toSeq.sorted
      for { i <- s.indices; j <- i + 1 until s.size } yield (s(i), s(j))
    }.groupBy(identity(_)).view.mapValues(_.size.toLong).toMap
    val got = graft.analytics.Funnels.itemCooccurrence(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got.map { case (k, v) => k -> v._1 } === pairCount)
    got.foreach { case ((i, j), (np, ni, nj, lift)) =>
      assert(i < j, "canonical pair order")
      assert(ni === itemCount(i) && nj === itemCount(j))
      val expect = BigDecimal(np.toDouble * nBaskets / (ni * nj))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(lift === expect, s"pair ($i,$j) lift")
      assert(lift > 0.0)
    }
  }

  test("purchase cadence: driver-side gap replay; invariants hold") {
    val purchases = graft.core.Tables.events(spark, sf)
      .where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        org.apache.spark.sql.functions.to_date(col("ts")).cast("string"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.time.LocalDate.parse(r.getString(3))))
    val expect = purchases.groupBy(_._1).collect {
      case (u, evs) if evs.length >= 2 =>
        val days = evs.sortBy(e => (e._2, e._3)).map(_._4)
        val gaps = days.zip(days.drop(1)).map { case (a, b) =>
          java.time.temporal.ChronoUnit.DAYS.between(a, b)
        }
        u -> (gaps.length.toLong, gaps.min, gaps.max,
          BigDecimal(gaps.sum.toDouble / gaps.length)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = graft.analytics.Funnels.purchaseCadence(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got === expect.toMap)
    got.values.foreach { case (n, mn, mx, mean) =>
      assert(n >= 1 && mn >= 0 && mn <= mx)
      assert(mean >= mn.toDouble && mean <= mx.toDouble)
    }
  }

  test("clustering coefficient: triangle-plus-pendant replays by hand") {
    val s = spark
    import s.implicits._
    // triangle {1,2,3} plus pendant edge (3,4): deg 1→2, 2→2, 3→3, 4→1
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc1", "doc2")
    val got = Curation.clusteringCoefficientOf(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got === Map(
      1L -> ((2L, 1L, 1.0)),
      2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 1L, roundAt(2.0 * 1 / (3 * 2), 6)))))
    assert(!got.contains(4L), "degree-1 nodes excluded (0/0 undefined)")
  }

  test("clustering coefficient: star center has lcc 0") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc1", "doc2")
    val got = Curation.clusteringCoefficientOf(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got === Map(1L -> ((3L, 0L, 0.0))))
  }

  test("session paths: exact-gap events merge (touching windows); cap truncates") {
    val s = spark
    import s.implicits._
    def t(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    // user 1: e3 exactly 1800 s after e2 — session_window merges TOUCHING
    // windows, so e3 stays in the same session; e4 at 1801 s after e3
    // strictly exceeds the gap and starts a new one
    val ev = Seq(
      (1L, t(0), 1L, "view"), (1L, t(600), 2L, "click"), (1L, t(2400), 3L, "view"),
      (1L, t(4201), 4L, "purchase"),
      (2L, t(0), 5L, "view"), (2L, t(10), 6L, "click"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = graft.analytics.Sessions.sessionPathsOf(ev).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "view>click>view" -> 1L, "purchase" -> 1L, "view>click" -> 1L))
    val capped = graft.analytics.Sessions.sessionPathsOf(ev, cap = 1).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(capped === Map("view" -> 2L, "purchase" -> 1L),
      "cap keeps only each session's first event")
  }

  test("gini: hand-computed histogram ranks; uniform activity scores zero") {
    val s = spark
    import s.implicits._
    // counts 1,1,2,4 sorted: sum(i*x) = 1+2+6+16 = 25; gini = 50/32 - 5/4
    val cnt = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 4L)).toDF("user_id", "c")
    val r = graft.analytics.Funnels.giniOfCounts(cnt).collect().head
    assert((r.getLong(0), r.getLong(1), r.getDouble(2))
      === ((4L, 8L, roundAt(2.0 * 25 / (4 * 8) - 5.0 / 4, 6))))
    val uniform = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("user_id", "c")
    val u = graft.analytics.Funnels.giniOfCounts(uniform).collect().head
    assert((u.getLong(0), u.getLong(1), u.getDouble(2)) === ((3L, 21L, 0.0)))
  }

  test("gini: sf replay against exact BigInt rank sums") {
    val counts = graft.core.Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("c"))
      .collect().map(_.getLong(1)).sorted
    val n = BigInt(counts.length)
    val tot = counts.map(BigInt(_)).sum
    val srs = counts.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
    val expect = roundAt(
      (BigDecimal(2 * srs) / BigDecimal(n * tot)
        - BigDecimal(n + 1) / BigDecimal(n)).toDouble, 6)
    val r = graft.analytics.Funnels.giniConcentration(spark, sf).collect().head
    assert(r.getLong(0) === counts.length.toLong)
    assert(r.getLong(1) === tot.toLong)
    assert(math.abs(r.getDouble(2) - expect) < 2e-6)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
  }

  test("readability: punctuated fixture replays CLI by hand; guard covers no-punct") {
    val s = spark
    import s.implicits._
    // "The cat sat. It ran! Why?" — 17 letters, 6 words, 3 sentence runs
    val docs = Seq(
      (1L, "The cat sat. It ran! Why?", "web"),
      (2L, "no punctuation here", "web")).toDF("doc_id", "text", "source")
    val got = TextAnalytics.readabilityOf(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(got(1L) === ((17L, 6L, 3L,
      roundAt(0.0588 * (100.0 * 17 / 6) - 0.296 * (100.0 * 3 / 6) - 15.8, 6))))
    // 17 letters, 3 words, 0 sentences -> guard counts 1 sentence
    assert(got(2L) === ((17L, 3L, 0L,
      roundAt(0.0588 * (100.0 * 17 / 3) - 0.296 * (100.0 * 1 / 3) - 15.8, 6))))
  }

  test("burstiness: periodic user scores -1; hand-computed moments; all-zero gaps null") {
    val s = spark
    import s.implicits._
    def t(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val ev =
      // user 1: gaps 60 x5 (periodic) -> sigma 0, B = -1
      (1 to 6).map(i => (1L, t(60 * (i - 1)), i.toLong, "view")) ++
      // user 2: gaps 10,10,10,10,50 -> mu 18, sigma 16, B = -2/34
      Seq(0, 10, 20, 30, 40, 90).zipWithIndex.map { case (sec, i) =>
        (2L, t(sec), 10L + i, "view") } ++
      // user 3: six events same second -> sigma + mu = 0 -> null
      (1 to 6).map(i => (3L, t(0), 20L + i, "view")) ++
      // user 4: below minGaps -> no row
      Seq((4L, t(0), 30L, "view"), (4L, t(10), 31L, "view"))
    val got = graft.analytics.Funnels.burstinessOf(
        ev.toDF("user_id", "ts", "event_id", "event_type")).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got(1L) === ((5L, 60.0, 0.0, Some(-1.0))))
    assert(got(2L) === ((5L, 18.0, 16.0, Some(roundAt((16.0 - 18) / (16 + 18), 6)))))
    assert(got(3L) === ((5L, 0.0, 0.0, None)))
    assert(!got.contains(4L))
  }

  test("vocab coverage: known frequencies at tiny budgets") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalytics.vocabCoverageOf(spark, docs, Seq(1, 2)).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got === Map(
      1 -> ((3L, 6L, 0.5)),
      2 -> ((5L, 6L, roundAt(5.0 / 6, 6)))))
  }

  test("conversion lag: first-event-to-first-purchase days; non-converters drop") {
    val s = spark
    import s.implicits._
    def t(day: Int) = new java.sql.Timestamp(1700000000000L + day * 86400000L)
    val dir = tempDir("convlag").toString
    // conversionLag reads a table dir; write the fixture as parquet
    Seq(
      (1L, t(0), 1L, "view"), (1L, t(3), 2L, "purchase"), (1L, t(5), 3L, "purchase"),
      (2L, t(0), 4L, "purchase"),
      (3L, t(0), 5L, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
      .withColumn("value", org.apache.spark.sql.functions.lit(1.0))
      .withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = graft.analytics.Funnels.conversionLag(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === Map(3L -> ((1L, 0.5)), 0L -> ((1L, 0.5))))
  }

  test("shard mixing: clumpy shard replays by hand; all-unique shard nulls") {
    val s = spark
    import s.implicits._
    // shard 0 read order a,a,b,b: adj 3, same 2; ssq 4, n 4 ->
    // expected 1/3, observed 2/3, ratio 2. shard 1 a,b: ssq 0 -> null.
    val m = Seq(
      (0, 0L, "a"), (0, 10L, "a"), (0, 20L, "b"), (0, 30L, "b"),
      (1, 0L, "a"), (1, 10L, "b"))
      .toDF("shard", "start_offset", "source")
    val got = Curation.shardMixingOf(m).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)))).toMap
    assert(got(0) === ((4L, 3L, 2L, roundAt(2.0 / 3, 6), roundAt(1.0 / 3, 6),
      Some(roundAt((2.0 / 3) / (1.0 / 3), 6)))))
    assert(got(1) === ((2L, 1L, 0L, 0.0, 0.0, None)))
  }

  test("centroid geometry: orthogonal and collinear centroids") {
    val s = spark
    import s.implicits._
    val c = Seq(
      ("A", 0, 1.0), ("A", 1, 0.0),
      ("B", 0, 0.0), ("B", 1, 1.0),
      ("C", 0, 0.5), ("C", 1, 0.0))
      .toDF("label", "dim", "mean_v")
    val got = graft.operators.Similarity.centroidGeometryOf(c).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(got === Map(
      ("A", "B") -> 0.0, ("A", "C") -> 1.0, ("B", "C") -> 0.0))
  }

  test("entropy rate: two-symbol corpus replays -p ln p by hand; uniform maxes") {
    val s = spark
    import s.implicits._
    // 3x "a", 1x "b": H = -(3/4)ln(3/4) - (1/4)ln(1/4), terms on the 6-dp grid
    val docs = Seq((1L, "a a a b")).toDF("doc_id", "text")
    val r = TextAnalytics.entropyRateOf(docs).collect().head
    val expect = roundAt(
      (fixedPoint(roundAt(-(0.75) * math.log(0.75), 6))
        + fixedPoint(roundAt(-(0.25) * math.log(0.25), 6))).toDouble / 1e6, 6)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) === ((2L, 4L, expect)))
    // uniform over 4 symbols -> ln(4)
    val u = TextAnalytics.entropyRateOf(
      Seq((1L, "w x y z")).toDF("doc_id", "text")).collect().head
    assert(math.abs(u.getDouble(2) - math.log(4)) < 3e-6)
  }

  test("cross-lang pairs: only label-crossing near-dups survive, labels attached") {
    val got = Dedup.crossLangPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getDouble(4)))
    val langs = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val allPairs = Dedup.minhashPairs(spark, sf, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val expect = allPairs.collect {
      case ((d1, d2), j) if langs(d1) != langs(d2) =>
        (d1, d2, langs(d1), langs(d2), j)
    }.toSet
    assert(got.toSet === expect)
    assert(got.nonEmpty, "fixture corpus has label-crossing near-dups")
    got.foreach { case (_, _, l1, l2, j) =>
      assert(l1 != l2); assert(j >= 0.7)
    }
  }

  test("dedup-quality link: groups partition the corpus; means replay") {
    val scores = graft.core.Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.Text.modelScore(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val members = Dedup.minhashPairs(spark, sf, 0.7).collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val got = Curation.dedupQualityLink(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val (dup, uniq) = scores.partition { case (id, _) => members(id) }
    def mean(m: Map[Long, Double]) =
      roundAt(m.values.map(fixedPoint).sum.toDouble / (m.size * 1e6), 6)
    assert(got(1) === ((dup.size.toLong, mean(dup))))
    assert(got(0) === ((uniq.size.toLong, mean(uniq))))
    assert(got(0)._1 + got(1)._1 === scores.size.toLong)
  }

  test("duplication mass: shared chunk counts mass-weighted; in-doc repeat is not dup") {
    val s = spark
    import s.implicits._
    val c8 = "a b c d e f g h" // one full 8-word chunk
    val docs = Seq(
      (1L, s"$c8 i j", "s"),       // chunks: c8 (8 tok) + "i j" (2 tok)
      (2L, s"$c8 x y", "s"),       // shares c8 -> df 2
      (3L, "p q", "s"),            // unique
      (4L, s"$c8 $c8", "t"))       // c8 twice IN ONE doc elsewhere? no —
      .toDF("doc_id", "text", "source")
    // doc 4 contains c8 at chunk 0 and chunk 1: df(c8) counts doc 4 once,
    // but docs 1/2 already make df >= 2, so BOTH of doc 4's chunks are dup
    // mass. Totals: s -> 22 tokens, dup 16; t -> 16 tokens, dup 16.
    val got = Dedup.duplicationMassOf(docs.toDF()).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got("s") === ((22L, 16L, roundAt(16.0 / 22, 6))))
    assert(got("t") === ((16L, 16L, 1.0)))
    // without docs 1/2, doc 4's in-doc repeat alone is NOT duplication
    val solo = Dedup.duplicationMassOf(
      Seq((4L, s"$c8 $c8", "t")).toDF("doc_id", "text", "source")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(solo("t") === ((16L, 0L, 0.0)))
  }

  test("length outliers: zero-MAD flags every deviation; even-count interpolation") {
    val s = spark
    import s.implicits._
    def doc(id: Long, n: Int, src: String) =
      (id, Seq.fill(n)("w").mkString(" "), src)
    val docs = Seq(doc(1, 10, "a"), doc(2, 10, "a"), doc(3, 10, "a"),
      doc(4, 10, "a"), doc(5, 100, "a"),
      doc(6, 1, "b"), doc(7, 2, "b"), doc(8, 3, "b"), doc(9, 4, "b"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalytics.lengthOutliersOf(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5))).toMap
    assert(got("a") === ((5L, 10.0, 0.0, 1L, 0.2)))
    // lengths 1,2,3,4: med 2.5, devs {1.5,.5,.5,1.5}, mad 1.0, none > 3
    assert(got("b") === ((4L, 2.5, 1.0, 0L, 0.0)))
  }

  test("winback: returns after >= 2-day gaps count once per user-day") {
    val s = spark
    import s.implicits._
    def t(day: Int, sec: Int = 0) =
      new java.sql.Timestamp(1700000000000L + day * 86400000L + sec * 1000L)
    val ev = Seq(
      (1L, t(0), 1L, "view"), (1L, t(1), 2L, "view"),   // gap 1 — no
      (1L, t(4), 3L, "view"), (1L, t(4, 60), 4L, "view"), // gap 3 — day 4
      (1L, t(7), 5L, "view"),                            // gap 3 — day 7
      (2L, t(0), 6L, "view"), (2L, t(2), 7L, "view"))    // gap 2 — day 2
      .toDF("user_id", "ts", "event_id", "event_type")
    // base 1700000000000 ms = 2023-11-14T22:13:20Z; day N lands on Nov 14+N
    val got = graft.analytics.Funnels.winbackReportOf(ev).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(got === Map(
      "2023-11-16" -> 1L, "2023-11-18" -> 1L, "2023-11-21" -> 1L))
  }

  test("decontamination spans: quoted benchmark trigram localized exactly") {
    val s = spark
    import s.implicits._
    val train = Seq(
      (1L, "a b x y z c"),        // "x y z" at gram position 2
      (2L, "clean words only here")).toDF("doc_id", "text")
    val bench = Seq((100L, "x y z")).toDF("doc_id", "text")
    val got = Curation.decontaminationSpansAgainst(train, bench, n = 3).collect()
    assert(got.length === 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getInt(4))
      === ((1L, 1L, 2, 2, 3)))
  }
}
