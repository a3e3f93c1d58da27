package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public `new Column(expr)` constructor; the supported
  * conversion lives in `org.apache.spark.sql.classic.ExpressionUtils`, which
  * is `private[sql]`. This object sits inside the `org.apache.spark.sql`
  * package hierarchy to re-export the two conversions the engine needs —
  * the standard bridge pattern used by Spark extension libraries.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `SparkSession.internalCreateDataFrame` is `private[sql]`: it wraps an
    * `RDD[InternalRow]` WITHOUT the InternalRow→Row→InternalRow round trip
    * `createDataFrame(RDD[Row], schema)` pays (full per-field boxing both
    * ways). RangedRank's per-partition walk stays on InternalRow end to
    * end with this — measured 116.5 → ~30 s at 500M rows. The rows the
    * RDD emits may be REUSED buffers (the standard operator contract;
    * downstream operators copy when they buffer).
    */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** Blocks until every event posted so far has reached every listener
    * (`SparkContext.listenerBus` is `private[spark]`): counts a listener
    * keeps are then final for the jobs that have already ended.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
