package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Streaming corpus curation: the quality/repetition filters of the batch
  * pipeline applied to a document STREAM. Every metric is a stateless
  * map-side projection ([[Text.qualityMetrics]], [[Text.repetitionMetrics]]),
  * so the same expressions run unchanged under Structured Streaming — no
  * state store, no watermark requirement, every micro-batch filters
  * independently. Combine with [[StreamDedup.withinWatermark]] on a content
  * hash for the stateful near-duplicate half of ingest-time curation.
  */
object StreamCurate {

  /** Annotate a (doc_id, text, ...) frame — batch OR streaming — with
    * quality score, trigram-repetition fraction, and the keep verdict.
    */
  def annotate(docs: DataFrame, minQuality: Double = 0.5,
      maxTrigramDup: Double = 0.2): DataFrame = {
    val q: Column = Text.qualityMetrics(col("text")).toMap.apply("quality_score")
    val rep: Column = Text.repetitionMetrics(col("text")).toMap.apply("dup_trigram_frac")
    docs
      .withColumn("quality_score", q)
      .withColumn("dup_trigram_frac", rep)
      .withColumn("keep",
        (col("quality_score") >= minQuality &&
          col("dup_trigram_frac") <= maxTrigramDup).cast("int"))
  }

  /** The model-based gate ([[Text.modelScore]], the q69 scorer) on a
    * stream: stateless projection, identical scores to the batch path by
    * construction (one shared Column definition).
    */
  def modelAnnotate(docs: DataFrame): DataFrame =
    docs
      .withColumn("model_score", Text.modelScore(col("text")))
      .withColumn("keep", (col("model_score") >= 0.0).cast("int"))

  /** Ingest-time PII scrubbing ([[Text.redactPii]], the q76 masker) —
    * stateless regexp projection, so the batch definition runs unchanged
    * on a stream; audit counts ride along for per-batch PII-density
    * monitoring.
    */
  def scrubPii(docs: DataFrame): DataFrame = {
    val counted = Text.piiCounts(col("text"))
      .foldLeft(docs) { case (d, (n, c)) => d.withColumn(n, c) }
    counted.withColumn("text", Text.redactPii(col("text")))
  }
}
