package graft

import java.nio.file.{Files, LinkOption, Path}
import org.scalatest.{Failed, Outcome, Succeeded, TestSuite}

/** Temp dirs and files that a test deletes when it ends, roots included;
  * each test then fails if the entries of `java.io.tmpdir` that start with
  * one of [[tmpPrefixes]] differ from what it found.
  */
trait TempDirs extends TestSuite {

  /** Name prefixes of every temp entry this suite makes. */
  protected def tmpPrefixes: Seq[String]

  private val made = scala.collection.mutable.ArrayBuffer.empty[Path]

  protected def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  protected def tempFile(prefix: String, suffix: String): Path = {
    val f = Files.createTempFile(prefix, suffix)
    made += f
    f
  }

  private def listing(): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list().toSet
      .filter(n => tmpPrefixes.exists(n.startsWith))

  override def withFixture(test: NoArgTest): Outcome = {
    val before = listing()
    val outcome =
      try super.withFixture(test)
      finally { made.foreach(deleteTree); made.clear() }
    val left = listing()
    outcome match {
      case Succeeded if left != before => Failed(
        s"java.io.tmpdir changed: left ${left -- before}, lost ${before -- left}")
      case other => other
    }
  }

  /** Deletes `p` and, unless it is a symlink, everything under it. */
  protected def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val children = Files.list(p)
      try children.toArray(n => new Array[Path](n)).foreach(deleteTree)
      finally children.close()
    }
    Files.deleteIfExists(p): Unit
  }
}
