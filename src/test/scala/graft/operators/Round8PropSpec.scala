package graft.operators

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.{SparkTestBase, TempDirs}

/** Property tests for the multimodal kernels against in-JVM reference
  * computations on RANDOM payloads — including the degenerate lengths the
  * real corpus never produces (empty payloads, payloads shorter than the
  * frame count, single bytes): frame spans must tile the payload exactly
  * at stride 1, sampled spans must follow the integral-division formula,
  * histogram mass must equal the byte length, and resize plans must stay
  * inside the box while preserving aspect up to integral truncation.
  * Seeded generators, deterministic samples (the suite's convention).
  */
class Round8PropSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft_r8prop")

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, Seed(seed))
      .getOrElse(sys.error(s"gen failed for seed $seed"))

  // ASCII-printable payload text, biased toward short/degenerate lengths
  private val docsGen: Gen[List[String]] = for {
    n <- Gen.choose(5, 25)
    docs <- Gen.listOfN(n, for {
      len <- Gen.frequency(3 -> Gen.choose(0, 10), 2 -> Gen.choose(11, 120),
        2 -> Gen.choose(121, 900))
      cs <- Gen.listOfN(len, Gen.choose(32.toChar, 126.toChar))
    } yield cs.mkString)
  } yield docs

  private def writeDocs(docs: List[String]): String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_r8prop").toString
    docs.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", s"src${i % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("frame spans tile every payload exactly at stride 1") {
    (1 to 6).foreach { seed =>
      val docs = sample(docsGen, seed.toLong)
      val dir = writeDocs(docs)
      val rows = Multimodal.frameSample(spark, dir, stride = 1).collect()
      val byDoc = rows.groupBy(_.getLong(0))
      docs.zipWithIndex.foreach { case (t, i) =>
        val bytes = t.getBytes("UTF-8")
        val n = bytes.length.toLong
        val nf = 1 + (n % 7).toInt
        val fs = byDoc.getOrElse(i.toLong, Array.empty)
          .sortBy(_.getInt(2))
        assert(fs.length === nf, s"seed $seed doc $i frame count")
        // spans are contiguous, start at 0, end at n
        assert(fs.head.getLong(3) === 0L)
        fs.sliding(2).foreach {
          case Array(a, b) =>
            assert(a.getLong(3) + a.getLong(4) === b.getLong(3),
              s"seed $seed doc $i gap")
          case _ => ()
        }
        assert(fs.last.getLong(3) + fs.last.getLong(4) === n)
        // total checksum mass = whole-payload byte sum
        assert(fs.map(_.getLong(5)).sum ===
          bytes.map(b => (b & 0xFF).toLong).sum, s"seed $seed doc $i mass")
      }
    }
  }

  test("sampled frames obey the integral-division formula at stride 2") {
    (1 to 4).foreach { seed =>
      val docs = sample(docsGen, 100L + seed)
      val dir = writeDocs(docs)
      val rows = Multimodal.frameSample(spark, dir, stride = 2).collect()
      rows.foreach { r =>
        val t = docs(r.getLong(0).toInt)
        val n = t.getBytes("UTF-8").length.toLong
        val nf = 1 + (n % 7).toInt
        val i = r.getInt(2)
        assert(i % 2 === 0 && i < nf)
        assert(r.getLong(3) === i * n / nf)
        assert(r.getLong(4) === (i + 1) * n / nf - i * n / nf)
      }
    }
  }

  test("feature histogram mass equals byte length; freqs near-normalize") {
    (1 to 4).foreach { seed =>
      val docs = sample(docsGen, 200L + seed)
      val dir = writeDocs(docs)
      val byDoc = Multimodal.byteHistogramFeatures(spark, dir).collect()
        .groupBy(_.getLong(0))
      docs.zipWithIndex.foreach { case (t, i) =>
        val rs = byDoc(i.toLong)
        assert(rs.length === 8)
        val n = t.getBytes("UTF-8").length.toLong
        assert(rs.map(_.getLong(2)).sum === n, s"seed $seed doc $i mass")
        val fsum = rs.map(_.getLong(3)).sum
        // truncating division: Σ floor(c_i·10⁶/n) ∈ (10⁶ − 8, 10⁶]
        if (n > 0) assert(fsum <= 1000000L && fsum > 1000000L - 8,
          s"seed $seed doc $i freq sum $fsum")
        else assert(fsum === 0L)
      }
    }
  }

  test("resize plans stay in the box and preserve aspect up to truncation") {
    (1 to 4).foreach { seed =>
      val docs = sample(docsGen, 300L + seed)
      val dir = writeDocs(docs)
      Multimodal.resizePlan(spark, dir).collect().foreach { r =>
        val (w, h, nw, nh, scaled) =
          (r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))
        if (scaled == 1) {
          assert(math.max(nw, nh) <= 224 && math.min(nw, nh) >= 1)
          // cross-multiplied aspect drift bounded by one truncation step
          assert(math.abs(nw.toLong * h - nh.toLong * w) <=
            math.max(w, h).toLong, s"w=$w h=$h -> $nw x $nh")
        } else assert(nw === w && nh === h && math.max(w, h) <= 224)
      }
    }
  }
}
