package graft.operators

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions.col

/** Semantics of q171 (embedding isotropy) and q172 (Markov stationary
  * distribution). Isotropy is checked against a brute-force O(n²) pairwise
  * recount over the same fixed-point unit vectors — the identity the
  * engine's one-pass plan replaces; the stationary vector is checked for
  * mass conservation and the fixed-point property (one more iteration
  * moves nothing beyond truncation noise).
  */
class IsotropyStationarySpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-iso")

  private val sf = "/root/testdata/sf0.001"

  test("isotropy: sum-vector identity equals the brute-force pairwise mean") {
    val s = spark
    val vecs = graft.core.Tables.embeddings(s, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    // replay the engine's fixed-point contract: unit components rounded
    // once at 1e9, then exact integer arithmetic
    val r = vecs.map { v =>
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => BigDecimal(x / nrm * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt)
    }
    val n = r.length
    var acc = BigInt(0)
    for (i <- r.indices; j <- r.indices if i != j)
      acc += r(i).zip(r(j)).map { case (a, b) => a * b }.sum
    val expected = BigDecimal(
      acc.toDouble / (n.toLong * (n - 1)).toDouble / 1e18)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Similarity.isotropy(s, sf).collect()
    assert(got.length === 1)
    assert(got.head.getLong(0) === n.toLong)
    assert(got.head.getDouble(1) === expected)
  }

  test("isotropy: degenerate vectors (NaN / zero / all-subnormal) are dropped") {
    // r13 advice 3: the guard must equal the oracle's nrm > 0 — a NaN
    // component poisons the norm (dropped), an all-zero vector has no
    // norm (dropped), and a vector whose every square UNDERFLOWS to 0.0
    // (|x| < ~1.5e-162) is indistinguishable from zero (dropped) — while
    // a unit vector mixed in with them still aggregates exactly
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-iso").toString
    val d = 64
    // subnormal-double territory is below float range, so build the frame
    // with DOUBLE arrays directly (isotropy's cast to array<double> is id)
    Seq(
      (0L, "a", (0 until d).map(i => if (i == 0) 1.0 else 0.0)),
      (1L, "a", (0 until d).map(i => if (i == 1) 1.0 else 0.0)),
      (2L, "bad", (0 until d).map(i => if (i == 0) Double.NaN else 1.0)),
      (3L, "bad", (0 until d).map(_ => 0.0)),
      (4L, "bad", (0 until d).map(_ => 1.0e-170))) // squares underflow to 0
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = Similarity.isotropy(s, dir).collect()
    assert(got.length === 1)
    assert(got.head.getLong(0) === 2L,
      s"only the two unit vectors survive the nrm > 0 contract: ${got.head}")
    // two orthogonal units: mean pairwise cos = 0
    assert(math.abs(got.head.getDouble(1)) < 1e-9)
  }

  test("stationary distribution: mass conserved and fixed under one more step") {
    val s = spark
    val p = graft.analytics.Funnels.stationaryDistribution(s, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(p.size === 5)
    val total = p.values.sum
    // truncation can only LEAK mass: <= 1e12, and by far less than
    // iters * |edges| units
    assert(total <= 1000000000000L && total > 999999999000L)
    // fixed point: applying the transition matrix once more moves each
    // state by < 1e7 (1e-5 of the mass) — the chain has converged
    val m = graft.analytics.Funnels.transitionMatrix(s, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outTot = m.groupBy(_._1).map { case (f, es) => f -> es.map(_._3).sum }
    val next = scala.collection.mutable.Map.empty[String, BigInt]
      .withDefaultValue(BigInt(0))
    for ((f, t, n) <- m if p.contains(f))
      next(t) += BigInt(p(f)) * n / outTot(f)
    for ((st, v) <- p)
      assert((next(st) - v).abs < BigInt(10000000L),
        s"state $st moved ${(next(st) - v).abs}")
  }

  test("stationary distribution: probabilities mirror p_fp at 6 dp") {
    val s = spark
    val rows = graft.analytics.Funnels.stationaryDistribution(s, sf).collect()
    rows.foreach { r =>
      val expected = BigDecimal(r.getLong(1) / 1e12)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(2) === expected)
    }
  }
}
