package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class FunctionsSpec extends SparkTestBase {

  /** Built-in-composition cosine: the reference for [[Vectors.cosine]]. */
  private def cosineBuiltin(a: Column, b: Column): Column = {
    val d = Vectors.dotProduct(a, b)
    val na = Vectors.l2Norm(a); val nb = Vectors.l2Norm(b)
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(d / (na * nb))
  }

  test("SparkEntry.entry (driver smoke contract) returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("stableHash32 matches the md5-prefix golden value") {
    val s = spark
    import s.implicits._
    // md5("hello") = 5d41402a... → 0x5d41402a = 1564557354
    val h = Seq("hello").toDF("x")
      .select(Hashing.stableHash32(col("x"))).collect().head.getLong(0)
    assert(h === 1564557354L)
  }

  test("minhash signature is deterministic and bounded by the prime") {
    val s = spark
    import s.implicits._
    val df = Seq("a b c d e f g").toDF("text")
      .select(Hashing.minhashSignature(Text.shingles(col("text")), 16).as("sig"))
    val sig1 = df.collect().head.getSeq[Long](0)
    val sig2 = df.collect().head.getSeq[Long](0)
    assert(sig1 === sig2)
    assert(sig1.length === 16)
    assert(sig1.forall(v => v >= 0 && v < Hashing.MinhashPrime))
  }

  test("near-identical shingle sets collide on most minhash components") {
    val s = spark
    import s.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = base + " extra"
    val rows = Seq(base, near).toDF("text")
      .select(Hashing.minhashSignature(Text.shingles(col("text")), 16).as("sig"))
      .collect().map(_.getSeq[Long](0))
    val agree = rows(0).zip(rows(1)).count { case (a, b) => a == b }
    assert(agree >= 12, s"expected >=12/16 agreement, got $agree")
  }

  test("rolling fingerprint: identical text equal, different text differs") {
    val s = spark
    import s.implicits._
    val fps = Seq("a b c", "a b c", "a b d").toDF("text")
      .select(Hashing.rollingFingerprint(Text.tokens(col("text"))).as("fp"))
      .collect().map(_.getLong(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
  }

  test("simhash: near-identical docs are close in hamming distance") {
    val s = spark
    import s.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val hs = Seq(base, base + " x", (1 to 60).map(i => s"zzz$i").mkString(" "))
      .toDF("text")
      .select(Hashing.simhash(Text.tokens(col("text")), 32).as("sh"))
      .collect().map(_.getLong(0))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) <= 4)
    assert(ham(hs(0), hs(2)) > 4)
    // the kernel equals the 32-aggregate lambda form it replaced
    val lambda = Seq(base, base + " x", (1 to 60).map(i => s"zzz$i").mkString(" "))
      .toDF("text").select(simhashLambda(Text.tokens(col("text")), 32))
      .collect().map(_.getLong(0))
    assert(hs.toSeq === lambda.toSeq)
  }

  /** The replaced `Hashing.simhash` body: one `aggregate` lambda per bit. */
  private def simhashLambda(tokens: Column, nbits: Int): Column = {
    val base = transform(tokens, t => Hashing.stableHash32(t))
    val bitSums = (0 until nbits).map { j =>
      aggregate(base, lit(0L),
        (acc, h) => acc + when(shiftright(h, j) % 2 === 1, 1L).otherwise(-1L))
    }
    bitSums.zipWithIndex.map { case (s, j) =>
      when(s > 0, lit(1L) * lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
  }

  test("codegen cosine equals the built-in composition and handles edges") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(1.0, 0.0), Array(0.0, 1.0)),
      (Array(0.0, 0.0), Array(1.0, 1.0))) // zero norm → 0.0
      .toDF("a", "b")
    val rows = df.select(
      Vectors.cosine(col("a"), col("b")).as("expr"),
      cosineBuiltin(col("a"), col("b")).as("builtin")).collect()
    rows.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12,
        s"expr=${r.getDouble(0)} builtin=${r.getDouble(1)}")
    }
    assert(rows(2).getDouble(0) === 0.0)
    // identical vectors → 1.0
    val self = df.select(Vectors.cosine(col("a"), col("a"))).collect().head.getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
  }

  test("CappedCollectList bounds the buffer and is partition-deterministic") {
    val s = spark
    import s.implicits._
    val ds = (1 to 1000).map(i => (i % 3, f"v$i%04d")).toDS()
      .repartition(7) // exercise merge across partitions
    val out = ds.groupByKey(_._1).mapValues(_._2)
      .agg(CappedCollectList.strings(5))
      .collect().toMap
    assert(out.keySet === Set(0, 1, 2))
    out.values.foreach { l =>
      assert(l.size === 5)
      assert(l === l.sorted)
    }
    // deterministic: smallest 5 values of each group
    assert(out(1) === Seq("v0001", "v0004", "v0007", "v0010", "v0013"))
  }

  test("langId picks the language with most stopword hits, ties to order") {
    val s = spark
    import s.implicits._
    val preds = Seq(
      "the cat and the dog of a house", // en
      "der hund und die katze ist",     // de
      "xyzzy qwerty")                   // no hits → first lang (en)
      .toDF("text").select(Text.langId(col("text")).as("l"))
      .collect().map(_.getString(0))
    assert(preds.toSeq === Seq("en", "de", "en"))
  }

  test("shingles guard short documents") {
    val s = spark
    import s.implicits._
    val out = Seq("one two", "one two three four").toDF("text")
      .select(Text.shingles(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[String](0))
    assert(out(0).isEmpty)
    assert(out(1) === Seq("one two three", "two three four"))
  }
}
