package graft.analytics

import graft.{SparkTestBase, TempDirs}
import graft.functions.Text
import org.apache.spark.sql.functions._

/** Behavior specs for the round-5 text-curation additions: PII redaction
  * and winnowing fingerprints (properties a fixture-oracle compare can't
  * express — handcrafted adversarial strings, the winnowing guarantee).
  */
class PiiWinnowSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("winnow")

  private def redact(s: String): String = {
    val sp = spark
    import sp.implicits._
    Seq(s).toDF("t").select(Text.redactPii(col("t")).as("r"))
      .head().getString(0)
  }

  test("redactPii masks emails, IPs, phones, and long digit runs") {
    assert(redact("mail bob.smith+x@corp.example.org now") === "mail <EMAIL> now")
    assert(redact("from 192.168.001.17 port") === "from <IP> port")
    assert(redact("call +1-650-555-0199 today") === "call <PHONE> today")
    assert(redact("dial 44-20-7946-0958 too") === "dial <PHONE> too")
    assert(redact("ssn-ish 123456789 run") === "ssn-ish <NUM> run")
    assert(redact("id 12345678901234567890 x") === "id <NUM> x")
  }

  test("redactPii leaves clean text and short numbers untouched") {
    val clean = "a plain sentence with version 1.2 and year 2024 and room 4-101"
    assert(redact(clean) === clean)
  }

  test("redactPii handles multiple and mixed hits in one string") {
    assert(redact("a@b.io and c@d.io") === "<EMAIL> and <EMAIL>")
    assert(redact("x a@b.io 10.0.0.1 +1-202-555-0100 123456789") ===
      "x <EMAIL> <IP> <PHONE> <NUM>")
  }

  test("piiCounts counts per pattern on the original text") {
    val sp = spark
    import sp.implicits._
    val row = Seq("a@b.io c@d.io 10.0.0.1 +1-202-555-0100").toDF("t")
      .select(Text.piiCounts(col("t")).map { case (n, c) => c.as(n) }: _*)
      .head()
    assert(row.getLong(0) === 2) // n_email
    assert(row.getLong(1) === 1) // n_ip
    assert(row.getLong(2) === 1) // n_phone
    assert(row.getLong(3) === 0) // n_number (digits are broken up)
  }

  /** The winnowing guarantee (SIGMOD'03 §3): two documents sharing a token
    * run long enough to cover w consecutive shingles (w+k-1 = 6 tokens
    * here) MUST share at least one fingerprint.
    */
  test("winnowing: documents sharing a >= w+2-shingle run share a fingerprint") {
    val dir = tempDir("winnow").toString
    val sp = spark
    import sp.implicits._
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    Seq(
      (1L, s"one two three $shared nine ten", "en", "src0"),
      (2L, s"$shared completely different tail words here", "en", "src0"),
      (3L, "nothing in common with the others at all", "en", "src0")
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fps = TextAnalytics.winnowFingerprints(spark, dir)
    val byDoc = fps.collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getLong(1)).toSet }
    assert((byDoc(1L) & byDoc(2L)).nonEmpty,
      s"shared 8-token run produced no shared fingerprint: $byDoc")
    assert((byDoc(1L) & byDoc(3L)).isEmpty)
    // doc 1: 13 tokens → 11 shingles → 8 full windows; winnowing yields at
    // most one fingerprint per window (all 8 CAN be distinct, e.g. under a
    // monotone hash sequence — no strict-subsample guarantee exists)
    assert(byDoc(1L).size >= 1 && byDoc(1L).size <= 8)
  }

  test("winnow-collision dedup: no false positives vs exact, full recall on planted dups") {
    import graft.operators.Dedup
    val sf = "/root/testdata/sf0.001"
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc1"), r.getAs[Long]("doc2"))).toSet
    val exact = pairs(Dedup.jaccardPairsPrefix(spark, sf))
    val winnow = pairs(Dedup.winnowPairs(spark, sf))
    assert(winnow.nonEmpty)
    // the exact-Jaccard verify tail means winnow can never over-report…
    assert(winnow.subsetOf(exact))
    // …and the planted near-dups are near-copies (long shared runs), so
    // the winnowing guarantee makes every one a candidate: full recall
    assert(winnow === exact)
  }

  test("winnowing: short documents (1..3 shingles) yield their single min hash") {
    val dir = tempDir("winnow2").toString
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, "just three words", "en", "src0"),   // 1 shingle
      (2L, "only two", "en", "src0"),           // 0 shingles -> no rows
      (3L, "four tokens in here", "en", "src0") // 2 shingles
    ).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalytics.winnowFingerprints(spark, dir).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(got === Map(1L -> 1, 3L -> 1))
  }
}
