package graft.serve

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SaveMode}

/** JDBC serving-layer writers — the reference's gold path (K3: batch
  * overwrite of session_level/user_level/raw_data, spark_batch_job.py:138-148;
  * K4: per-micro-batch append via foreachBatch, spark_stream.py:135-151;
  * K5: driver-side DDL bootstrap, spark_stream.py:93-133).
  *
  * Thin on purpose: the logic is all Spark-engine JDBC. JdbcSpec and
  * perfbench's `stream_ingest` drive them end to end against embedded
  * in-memory Derby (shipped with Spark's jars); the skip-gated
  * PgSmokeSpec covers real Postgres when a server is reachable.
  *
  * Scale notes: `numPartitions` bounds concurrent connections (each write
  * partition opens one); batchsize amortizes round trips. The reference's
  * localhost-vs-container-host url bug (K4) is not reproduced — the url is
  * always caller-supplied.
  */
object Jdbc {

  def props(user: String, password: String,
      driver: String = "org.postgresql.Driver"): Properties = {
    val p = new Properties()
    p.setProperty("user", user)
    p.setProperty("password", password)
    p.setProperty("driver", driver)
    p
  }

  /** K3: full-table overwrite (gold tables rebuilt per batch run). */
  def overwrite(df: DataFrame, url: String, table: String, p: Properties,
      numPartitions: Int = 8, batchSize: Int = 10000): Unit =
    df.coalesce(numPartitions)
      .write.mode(SaveMode.Overwrite)
      .option("batchsize", batchSize)
      .jdbc(url, table, p)

  /** K4/ST7: foreachBatch body — append a micro-batch. Usage:
    * `writeStream.foreachBatch((df, id) => Jdbc.appendBatch(df, url, t, p))`.
    */
  def appendBatch(df: DataFrame, url: String, table: String, p: Properties,
      numPartitions: Int = 8): Unit =
    df.coalesce(numPartitions)
      .write.mode(SaveMode.Append)
      .jdbc(url, table, p)

  /** K5: driver-side DDL (plain JDBC, no Spark). */
  def executeDdl(url: String, user: String, password: String, ddl: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, user, password)
    try { val st = conn.createStatement(); try st.execute(ddl) finally st.close() }
    finally conn.close()
  }
}
