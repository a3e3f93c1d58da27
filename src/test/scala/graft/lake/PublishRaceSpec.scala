package graft.lake

import graft.{SparkTestBase, TempDirs}
import org.apache.hadoop.fs.Path

/** [[DurableCache]]'s publish must survive losing a race: Hadoop's
  * `rename(src, existingDir)` MOVES src INSIDE the destination (and
  * returns true), so a loser that renames blindly would nest its temp
  * copy under the published path forever. The loser must instead detect
  * the winner and discard its own build.
  */
class PublishRaceSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-pubrace", "graft-pubsolo")

  private def fs = new Path("/tmp").getFileSystem(
    spark.sessionState.newHadoopConf())

  private def writeOne(path: String, tag: String): Unit = {
    val s = spark; import s.implicits._
    Seq((1L, tag)).toDF("id", "tag").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  test("losing writer discards its temp copy and keeps the winner intact") {
    val dest = tempDir("graft-pubrace").toString + "/table"
    // the loser's write closure simulates the interleaving: while it is
    // still "building", the winner publishes a complete copy to dest
    DurableCache.publishAtomic(spark, dest) { tmp =>
      writeOne(tmp, "loser")
      writeOne(dest, "winner") // winner lands first (with _SUCCESS)
    }
    assert(fs.exists(new Path(dest, "_SUCCESS")), "winner must stay published")
    val children = fs.listStatus(new Path(dest)).map(_.getPath.getName)
    assert(!children.exists(_.contains(".tmp-")),
      s"loser's temp copy must not nest inside the published dir: " +
        children.mkString(", "))
    val rows = spark.read.parquet(dest).collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("winner"),
      "published content must be the winner's copy only")
    // loser's temp sibling is gone too
    val siblings = fs.listStatus(new Path(dest).getParent)
      .map(_.getPath.getName)
    assert(!siblings.exists(_.contains(".tmp-")),
      s"loser's temp dir must be cleaned up: ${siblings.mkString(", ")}")
  }

  test("first writer publishes atomically and a re-publish is a no-op") {
    val dest = tempDir("graft-pubsolo").toString + "/table"
    DurableCache.publishAtomic(spark, dest)(writeOne(_, "only"))
    assert(fs.exists(new Path(dest, "_SUCCESS")))
    var ran = false
    DurableCache.publishAtomic(spark, dest) { _ => ran = true }
    assert(!ran, "an already-published destination must short-circuit")
    assert(spark.read.parquet(dest).count() === 1L)
  }
}
