package graft.lake

import org.apache.spark.sql.DataFrame

/** Bucketed tables for shuffle-free co-located joins — the standing answer
  * to repeated large-fact joins at 100 TB: pay the shuffle once at write
  * time (`bucketBy` on the join key), and every subsequent equi-join or
  * aggregation on that key runs with zero Exchange because both sides
  * already share the same hash partitioning (and per-bucket sort).
  *
  * Bucket count rules of thumb: ≈ target parallelism × small integer;
  * both join sides must use the SAME count (or one a divisor of the other
  * with spark.sql.bucketing.coalesceBucketsInJoin.enabled).
  */
object Bucketing {

  /** Write a DataFrame as a bucketed+sorted managed table. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      numBuckets: Int = 8): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)
}
