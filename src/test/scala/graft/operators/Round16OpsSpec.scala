package graft.operators

import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-16 behavior pins (r15 verdict items 1-3): the mmrRerank
  * candidate grid, the trained-cell assignment, and the JL projection
  * are now memo families — replay must be bit-identical and the
  * families must actually be SHARED (q115 after q66+q79 adds no
  * corpus-scale rebuild of either), and principalDirection must return
  * an empty typed frame — not throw — on an empty embeddings table.
  */
class Round16OpsSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-empty-sf")

  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("mmrRerank replays identically from its memoized candidate grid") {
    SessionMemo.invalidate(spark)
    val first = rows(Similarity.mmrRerank(spark, sf))
    val again = rows(Similarity.mmrRerank(spark, sf))
    assert(first == again, "memo replay must be bit-identical")
    assert(first.nonEmpty)
    val keys = SessionMemo.cachedKeys(spark)
    assert(keys.count(_.startsWith("mmrCand|")) == 1,
      s"mmrRerank must build exactly one candidate family, got: $keys")
  }

  test("q115 shares the q66/q79 families — no per-consumer corpus rebuild") {
    // output equality alone would still pass if q115 kept private keys
    // (each rebuilding the corpus argmax + JL projection — the exact r15
    // item-2 cost this round removes); pin the SHARING itself
    SessionMemo.invalidate(spark)
    graft.SparkEntry.queries("q66_ivf_trained_assign")(spark, sf).collect()
    graft.SparkEntry.queries("q79_random_projection")(spark, sf).collect()
    val afterFamilies = SessionMemo.cachedKeys(spark)
    assert(afterFamilies.count(_.startsWith("ivfAssignTrained|")) == 1,
      s"q66 must build exactly one assignment family, got: $afterFamilies")
    assert(afterFamilies.count(_.startsWith("randomProjection|")) == 1,
      s"q79 must build exactly one projection family, got: $afterFamilies")
    graft.SparkEntry.queries("q115_projected_neardup")(spark, sf).collect()
    val afterQ115 = SessionMemo.cachedKeys(spark)
    assert(afterQ115.count(_.startsWith("ivfAssignTrained|")) == 1 &&
      afterQ115.count(_.startsWith("randomProjection|")) == 1,
      "q115 must reuse the q66/q79 families, not rebuild: " +
        s"new keys ${afterQ115 -- afterFamilies}")
  }

  test("Md5PrefixLong equals the conv(substring(md5)) composition it replaces") {
    import graft.functions.Hashing
    // adversarial + randomized inputs: empty, single char, unicode,
    // long strings, strings whose md5 starts with 0 / f nibbles, nulls
    val rnd = new scala.util.Random(16)
    val samples = Seq("", " ", "a", "0", "ÿ", "漢字テスト", "a b c d e",
      "x" * 1000) ++
      (1 to 2000).map(_ => rnd.alphanumeric.take(rnd.nextInt(40)).mkString) ++
      (1 to 200).map(i => s"split:src$i:$i")
    val df = spark.createDataFrame(
        samples.map(Tuple1(_)) :+ Tuple1(null.asInstanceOf[String]))
      .toDF("s")
    val legacy32 = conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long")
    val legacy60 = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long")
    val bad = df.select(
        Hashing.stableHash32(col("s")).as("n32"), legacy32.as("l32"),
        Hashing.stableHash60(col("s")).as("n60"), legacy60.as("l60"))
      .where(!(col("n32") <=> col("l32")) || !(col("n60") <=> col("l60")))
    assert(bad.count() == 0L,
      s"md5-prefix mismatch: ${bad.take(3).mkString(", ")}")
  }

  test("principalDirection returns an empty typed frame on empty embeddings") {
    val dir = tempDir("graft-empty-sf")
      .toString
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.parquet(s"$dir/embeddings.parquet")
    val out = Similarity.principalDirection(spark, dir)
    assert(out.columns.toSeq ==
      Seq("dim", "mean_grid", "v_fp", "n_vecs", "lambda_rayleigh"))
    assert(out.count() == 0L,
      "empty embeddings must yield an empty frame, not rows.head throwing")
  }
}
