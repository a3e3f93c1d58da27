package graft.lake

import graft.{SparkTestBase, TempDirs}
import graft.core.Tables
import org.apache.spark.sql.functions._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import scala.jdk.CollectionConverters._

/** The q329 layout audit made real (VERDICT r8 item 5): writeClustered
  * range-partitions + sorts on the Morton key and the REAL parquet
  * row-group min/max statistics must then prune the audit's 2-D predicate
  * (day bucket ∈ [30,60] AND price bucket ∈ [40,90]) to a fraction of the
  * row groups a natural layout has to read. The spec reads the footers
  * back with parquet-hadoop — the exact stats a scan's row-group filter
  * consults — and replays the pruning decision.
  */
class LakeClusteredSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-zorder")

  private val sf = "/root/testdata/sf0.001"

  /** q329's binning: day and price buckets clamped to [0, 255]. */
  private def binned = Tables.lineitem(spark, sf)
    .select(col("l_orderkey"), col("l_linenumber"),
      least(lit(255), greatest(lit(0),
        expr("datediff(to_date(l_shipdate), DATE '1995-01-01') div 10")))
        .cast("int").as("db"),
      least(lit(255), floor(col("l_extendedprice") / 400).cast("int"))
        .cast("int").as("pb"))

  /** (rowGroups, overlappingRowGroups) for the 2-D predicate box, from
    * the actual footer statistics of every parquet part file under dir.
    */
  private def rowGroupStats(dir: String): (Int, Int) = {
    val conf = new Configuration()
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.nonEmpty, s"no parquet files under $dir")
    var total = 0
    var overlap = 0
    files.foreach { f =>
      val rd = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f), conf))
      try rd.getFooter.getBlocks.asScala.foreach { b =>
        total += 1
        def range(name: String): (Int, Int) = {
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == name).get
          val st = c.getStatistics
          (st.genericGetMin.asInstanceOf[Number].intValue(),
            st.genericGetMax.asInstanceOf[Number].intValue())
        }
        val (dbMin, dbMax) = range("db")
        val (pbMin, pbMax) = range("pb")
        if (dbMin <= 60 && dbMax >= 30 && pbMin <= 90 && pbMax >= 40)
          overlap += 1
      } finally rd.close()
    }
    (total, overlap)
  }

  test("z-clustered layout prunes the 2-D predicate; natural layout cannot") {
    val tmp = tempDir("graft-zorder").toString
    val natural = s"$tmp/natural"
    val zorder = s"$tmp/zorder"
    // natural: insertion order spread round-robin over the same file count
    binned.repartition(8).write.mode("overwrite").parquet(natural)
    Lake.writeClustered(binned, zorder, Seq("db", "pb"), numFiles = 8)

    val (nTotal, nOverlap) = rowGroupStats(natural)
    val (zTotal, zOverlap) = rowGroupStats(zorder)
    info(s"natural: $nOverlap/$nTotal row groups overlap; zorder: $zOverlap/$zTotal")
    assert(nTotal >= 8 && zTotal >= 8)
    // every natural row group spans the whole value space -> zero skipping
    assert(nOverlap === nTotal, "round-robin stats should prune nothing")
    // the clustered layout must actually skip: at most half the groups
    // overlap the box (measured: 2/8)
    assert(zOverlap * 2 <= zTotal,
      s"z-order should prune >= half the row groups, got $zOverlap/$zTotal")

    // the scan really pushes both range predicates down to parquet
    val pred = col("db").between(30, 60) && col("pb").between(40, 90)
    val zScan = spark.read.parquet(zorder).where(pred)
    val plan = zScan.queryExecution.executedPlan.toString
    // PushedFilters renders truncated at 100 chars, so pin the leading
    // pushed predicates there and the full 2-D box via DataFilters
    assert(plan.contains("PushedFilters: [IsNotNull(db), IsNotNull(pb), GreaterThanOrEqual(db,30)")
      && "pb#\\d+ <= 90".r.findFirstIn(plan).isDefined
      && "pb#\\d+ >= 40".r.findFirstIn(plan).isDefined,
      s"2-D predicate must reach the parquet scan:\n$plan")

    // layout change must not change content: same matching rows
    val exp = binned.where(pred).count()
    assert(zScan.count() === exp)
    assert(spark.read.parquet(natural).where(pred).count() === exp)
    assert(spark.read.parquet(zorder).count() ===
      spark.read.parquet(natural).count())
  }

  test("morton interleaving matches the hand-built q329 bit layout") {
    val s = spark
    import s.implicits._
    val df = Seq((0, 0), (1, 0), (0, 1), (255, 255), (3, 5), (170, 85))
      .toDF("db", "pb")
    val got = df.select(
      graft.functions.Spatial.morton(Seq(col("db"), col("pb")), 8).as("z"))
      .collect().map(_.getLong(0)).toSeq
    def ref(a: Int, b: Int): Long = (0 until 8).map(i =>
      (((a >> i) & 1) << (2 * i + 1)) + (((b >> i) & 1) << (2 * i))).sum.toLong
    assert(got === Seq(ref(0, 0), ref(1, 0), ref(0, 1), ref(255, 255),
      ref(3, 5), ref(170, 85)))
    assert(got(3) === 65535L) // full box interleaves to all-ones
  }
}
