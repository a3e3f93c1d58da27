package graft.datagen

import java.nio.file.Files
import graft.{SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._

class DataGenSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft_csv", "graft_feb")

  test("csvReplay reads the eCommerce schema with the record cap") {
    val dir = tempDir("graft_csv")
    val csv =
      """user_id,event_type,product_id,event_time,category_id,category_code,brand,price,user_session
        |u1,view,p1,2019-10-01 00:00:00 UTC,c1,electronics.phone,apple,99.5,s1
        |u2,cart,p2,2019-10-01 00:01:00 UTC,c2,,samsung,10.0,s2
        |u3,purchase,p3,2019-10-01 00:02:00 UTC,c3,home.kitchen,x,5.25,s3""".stripMargin
    Files.write(dir.resolve("events.csv"), csv.getBytes("UTF-8"))
    val df = DataGen.csvReplay(spark, dir.toString, numRecords = 2)
    assert(df.count() === 2)
    assert(df.schema("price").dataType.typeName === "string") // P16 quirk kept
  }

  test("kafka payload shaping round-trips through the ingest decoder") {
    val src = DataGen.csvReplay(spark, {
      val dir = tempDir("graft_csv2")
      Files.write(dir.resolve("e.csv"),
        """user_id,event_type,product_id,event_time,category_id,category_code,brand,price,user_session
          |u9,view,p9,2019-10-02 03:04:05 UTC,c9,a.b,z,1.5,s9""".stripMargin.getBytes("UTF-8"))
      dir.toString
    })
    val decoded = graft.ingest.EventIngest.decodeJson(DataGen.toKafkaPayload(src))
    val row = decoded.collect().head
    assert(row.getAs[String]("user_id") === "u9")
    assert(row.getAs[String]("price") === "1.5")
  }

  test("synthetic events match the reference generator domains") {
    val df = DataGen.syntheticEvents(spark, 500)
    assert(df.count() === 500)
    val types = df.select("event_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.subsetOf(Set("page_view", "click", "add_to_cart", "purchase")))
    val users = df.select("user_id").distinct().count()
    assert(users > 10 && users <= 50)
    // deterministic: same n → same rows
    assert(DataGen.syntheticEvents(spark, 500).exceptAll(df).count() === 0)
  }

  test("foreachBatch sink appends each micro-batch exactly once") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val out = tempDir("graft_feb").toString
    val q = input.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        // stands in for Jdbc.appendBatch (no database in this environment):
        // same contract — append the micro-batch to an external store
        df.withColumn("batch_id", lit(id)).write.mode("append").parquet(out)
      }
      .start()
    try {
      input.addData(1, 2, 3); q.processAllAvailable()
      input.addData(4); q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(out)
    assert(back.count() === 4)
    assert(back.select("batch_id").distinct().count() === 2)
  }
}
