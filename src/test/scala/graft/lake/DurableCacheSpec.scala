package graft.lake

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.{SparkTestBase, TempDirs}
import graft.operators.SessionMemo
import org.apache.spark.sql.functions._

/** The one on-disk cache: the skipping layouts and the durable memo share
  * its root and fingerprint, its GC sweeps layouts like memo entries, an
  * untrusted root never serves a planted copy, and no main source outside
  * it names a temp root of its own.
  */
class DurableCacheSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-cachespec")

  private val sf = "/root/testdata/sf0.001"

  private def writeLayout(p: String): Unit =
    Lake.writeClustered(Lake.lineitemBins(spark, sf), p, Seq("db", "pb"),
      numFiles = 16)

  private def rows(path: String): Set[Seq[Any]] =
    Lake.clusteredScanAggregate(spark.read.parquet(path))
      .collect().map(_.toSeq).toSet

  test("layouts and memo frames share <root>/<fingerprint>/") {
    val layout = Paths.get(Lake.clusteredLineitem(spark, sf))
    assert(layout.getParent.getParent === Paths.get(DurableCache.root))
    assert(layout.getParent.getFileName.toString.matches("[0-9a-f]{32}"))
    assert(Files.exists(layout.resolve("_SUCCESS")))
    sys.props.put("graft.memo.durable", "true")
    try {
      SessionMemo.durable(spark, sf, "durableCacheSpec")(spark.range(3).toDF("n"))
        .collect()
    } finally {
      sys.props.remove("graft.memo.durable")
      SessionMemo.invalidate(spark)
    }
    val memo = Files.list(layout.getParent).iterator.asScala.toSeq
      .map(_.getFileName.toString)
    assert(memo.exists(_.startsWith("durableCacheSpec-")),
      s"the memo entry must share the layout's fingerprint dir: $memo")
  }

  test("the one GC sweeps a stale layout like any memo entry") {
    val root = tempDir("graft-cachespec-gc")
    val layout = Paths.get(
      DurableCache.publishUnder(root.toString, spark, sf, "lineitem_z")(writeLayout))
    val fpDir = layout.getParent
    assert(fpDir.getParent === root)
    assert(fpDir.getFileName.toString.matches("[0-9a-f]{32}"))
    // three newer fingerprints and a 7 h old layout: out of rank and window
    (1 to 3).foreach(i => Files.createDirectories(root.resolve(f"$i%032x")))
    Files.setLastModifiedTime(fpDir, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 7L * 3600 * 1000))
    DurableCache.gcStaleFingerprints("f" * 32, root.toString)
    assert(!Files.exists(fpDir), "a stale layout must be collected")
    assert((1 to 3).forall(i => Files.exists(root.resolve(f"$i%032x"))))
  }

  test("a planted complete copy under a symlinked root is never read") {
    // where an honest publish of the layout lands, relative to its root
    val honest = tempDir("graft-cachespec-ok")
    val real = DurableCache.publishUnder(honest.toString, spark, sf,
      "lineitem_z")(writeLayout)
    val rel = honest.relativize(Paths.get(real))
    // the attacker's root: a symlink to a tree holding a complete copy
    // (with _SUCCESS) of different rows at exactly that place
    val target = tempDir("graft-cachespec-tgt")
    spark.range(1).select(lit("X").as("l_returnflag"), lit(1L).as("qc"),
        lit(45).as("db"), lit(50).as("pb"))
      .write.parquet(target.resolve(rel).toString)
    val link = Paths.get(target.toString + "-link")
    Files.createSymbolicLink(link, target)
    try {
      val root = DurableCache.rootFor(link.toString, explicit = false)
      assert(root !== link.toString)
      val own = Paths.get(root)
      assert(Files.getPosixFilePermissions(own) ===
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
      var built = false
      val got = DurableCache.publishUnder(root, spark, sf, "lineitem_z") { p =>
        built = true
        writeLayout(p)
      }
      assert(built, "an untrusted root's copy must not short-circuit the build")
      assert(Paths.get(got).startsWith(own))
      assert(rows(got) === rows(real))
      assert(!rows(got).exists(_.head == "X"))
      deleteTree(own)
    } finally Files.delete(link)
  }

  test("java.io.tmpdir appears in main sources only in DurableCache and tools") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_ == root.resolve("lake/DurableCache.scala"))
      .filterNot(_.startsWith(root.resolve("tools")))
      .filter(p => Files.readString(p).contains("java.io.tmpdir"))
      .map(root.relativize(_: Path).toString).toList
    assert(offenders.isEmpty,
      s"a cache root outside DurableCache; publish through it instead: $offenders")
  }
}
