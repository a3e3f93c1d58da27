package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.SparkTestBase

class StreamCurateSpec extends SparkTestBase {

  // unique words interleaved with rotating stopwords: length + stopword
  // gates pass, and every trigram is distinct (repetition gate passes)
  private val stops = Seq("the", "a", "of", "and", "to", "is", "in")
  private val goodText = (1 to 40)
    .map(i => s"unique$i ${stops(i % stops.length)}").mkString(" ")
  // one word repeated: dup_trigram_frac ≈ 1 → dropped
  private val loopText = Seq.fill(60)("spam").mkString(" ")
  // 3 words: length gate fails (quality < 0.5)
  private val tinyText = "too short doc"

  test("annotate agrees with the batch curation gates") {
    val s = spark
    import s.implicits._
    val rows = StreamCurate.annotate(
        Seq((1L, goodText), (2L, loopText), (3L, tinyText)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getAs[Int]("keep")).toMap
    assert(rows === Map(1L -> 1, 2L -> 0, 3L -> 0))
  }

  test("streaming model-score gate produces the batch q69 scores exactly") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Seq((1L, goodText), (2L, loopText), (3L, tinyText))
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_id"), r.getAs[Double]("model_score"), r.getAs[Int]("keep"))
    val batch = StreamCurate.modelAnnotate(docs.toDF("doc_id", "text"))
      .collect().map(key).toSet
    val input = MemoryStream[(Long, String)]
    val q = StreamCurate.modelAnnotate(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("smodel")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("smodel").collect().map(key).toSet
      assert(streamed === batch)
      assert(batch.exists(_._3 == 1) && batch.exists(_._3 == 0))
    } finally q.stop()
  }

  test("streaming PII scrub masks in-flight and counts match the batch q76 masker") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamCurate.scrubPii(input.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("spii")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "reach me at eve@example.com or +1-202-555-0100"),
        (2L, "server 10.1.2.3 logged card 4111111111111111"))
      q.processAllAvailable()
      val rows = spark.table("spii").collect()
        .map(r => r.getAs[Long]("doc_id") -> r).toMap
      assert(rows(1L).getAs[String]("text") ===
        "reach me at <EMAIL> or <PHONE>")
      assert(rows(1L).getAs[Long]("n_email") === 1)
      assert(rows(1L).getAs[Long]("n_phone") === 1)
      assert(rows(2L).getAs[String]("text") === "server <IP> logged card <NUM>")
      assert(rows(2L).getAs[Long]("n_ip") === 1)
      assert(rows(2L).getAs[Long]("n_number") === 1)
    } finally q.stop()
  }
}
