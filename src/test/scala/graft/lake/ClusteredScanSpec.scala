package graft.lake

import graft.{ScanMeter, SparkTestBase, TempDirs}
import org.apache.spark.sql.functions._

/** q382 end-to-end (VERDICT r9 item 4): the clustered table is not just
  * WRITTEN with a good layout (LakeClusteredSpec proves the footer
  * stats) — the SCAN path must actually skip. This spec executes the
  * gated aggregate against the clustered copy and against a round-robin
  * "natural" copy of the SAME rows, reads the FileSourceScan's
  * numOutputRows metric (rows that survived parquet row-group pruning
  * and reached Spark), and asserts the clustered scan reads a fraction
  * of the table while the natural scan reads all of it — with
  * hash-identical results.
  */
class ClusteredScanSpec extends SparkTestBase with ScanMeter with TempDirs {

  protected val tmpPrefixes =
    Seq("graft-natural", "graft-stale-sf", "graft-stale-leaf")

  private val sf = "/root/testdata/sf0.001"

  test("q382: clustered scan row-group-skips; natural layout cannot; results match") {
    // the gated operator: writes the clustered copy once, scans it
    val (clusteredRows, clusteredRead) =
      runAndMeter(Lake.clusteredScan(spark, sf))

    // natural layout: the SAME rows, round-robin across the same file count
    val clusteredPath = Lake.clusteredLineitem(spark, sf)
    val natural = tempDir("graft-natural").resolve("lineitem_n").toString
    spark.read.parquet(clusteredPath).repartition(16)
      .write.mode("overwrite").parquet(natural)
    val (naturalRows, naturalRead) =
      runAndMeter(Lake.clusteredScanAggregate(spark.read.parquet(natural)))

    assert(clusteredRows === naturalRows, "layout must not change content")
    val total = spark.read.parquet(clusteredPath).count()
    assert(naturalRead === total,
      s"round-robin row groups span the whole space: expected all $total rows read")
    assert(clusteredRead * 2 <= total,
      s"clustered scan should skip >= half the rows, read $clusteredRead of $total")
    info(s"clustered read $clusteredRead / $total rows; natural read $naturalRead")
  }

  test("q382: an in-place leaf rewrite re-keys the layout, never serves it stale") {
    // a multi-file lineitem, .crc-free so a leaf can be rewritten in place
    val sfDir = tempDir("graft-stale-sf")
    val table = sfDir.resolve("lineitem.parquet")
    spark.read.parquet(s"$sf/lineitem.parquet").repartition(2)
      .write.parquet(table.toString)
    def files(suffix: String) = java.nio.file.Files.list(table).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(suffix)).sorted.toSeq
    files(".crc").foreach(java.nio.file.Files.delete)
    val leaves = files(".parquet")
    assert(leaves.size >= 2)
    val dir = sfDir.toString
    def raw() = Lake.clusteredScanAggregate(Lake.lineitemBins(spark, dir))
      .collect().map(_.toSeq).toSet
    val before = Lake.clusteredScan(spark, dir).collect().map(_.toSeq).toSet
    assert(before === raw())
    val layoutBefore = Lake.clusteredLineitem(spark, dir)

    // the same rows with doubled quantities, written over the first leaf
    // (Files.write truncates): the table directory's length and mtime
    // stay as they were
    val stat = () => {
      val st = new org.apache.hadoop.fs.Path(table.toString)
        .getFileSystem(spark.sessionState.newHadoopConf())
        .getFileStatus(new org.apache.hadoop.fs.Path(table.toString))
      (st.getLen, st.getModificationTime)
    }
    val dirStat = stat()
    val leaf = spark.read.parquet(leaves.head.toString)
    val doubled = tempDir("graft-stale-leaf")
    leaf.withColumn("l_quantity",
        (col("l_quantity") * 2).cast(leaf.schema("l_quantity").dataType))
      .coalesce(1).write.mode("overwrite").parquet(doubled.resolve("t").toString)
    val part = java.nio.file.Files.list(doubled.resolve("t")).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet")).head
    java.nio.file.Files.write(leaves.head, java.nio.file.Files.readAllBytes(part))
    assert(stat() === dirStat)

    val after = Lake.clusteredScan(spark, dir).collect().map(_.toSeq).toSet
    assert(after === raw(), "the layout must be rebuilt from the rewritten rows")
    assert(after !== before, "the rewrite must change the answer")
    val layoutAfter = Lake.clusteredLineitem(spark, dir)
    assert(layoutAfter !== layoutBefore)
    // the two layouts' fingerprint dirs belong to this temp sfDir alone
    Seq(layoutBefore, layoutAfter)
      .foreach(l => deleteTree(java.nio.file.Paths.get(l).getParent))
  }
}
