package graft.operators

import graft.{SparkTestBase, TempDirs}
import graft.lake.DurableCache
import org.scalatest.{Failed, Outcome, Succeeded}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Contract of [[SessionMemo.durable]] — the disk-backed memo tier the
  * driver-contract mains enable (r11 verdict item 1):
  *
  *  - OFF by default: without the `graft.memo.durable` system property the
  *    call is byte-for-byte the in-memory [[SessionMemo.apply]] (tests and
  *    plan sweeps stay independent of /tmp state);
  *  - ON: first call builds once and publishes parquet + schema sidecar;
  *    a later "JVM" (simulated by invalidating the in-memory tier) reads
  *    the parquet back with IDENTICAL rows and schema and does NOT rebuild;
  *  - empty results round-trip with their schema (the sidecar, not
  *    parquet inference, carries it);
  *  - the cache key covers the DATA fingerprint: touching a source file's
  *    mtime re-routes to a fresh cache entry (a rebuild), never a stale
  *    read;
  *  - a published entry that does not read back whole (no sidecar, a
  *    truncated data file) is rebuilt and republished, never an error.
  * Each fixture's fresh `sfDir` keys its own fingerprint directory under
  * the test root; the test that made it deletes it.
  * The root, key and GC are [[DurableCache]]'s, pinned here as well.
  */
class DurableMemoSpec extends SparkTestBase with TempDirs {

  protected val tmpPrefixes = Seq("graft-durable-fix", "graft-memo-gcspec",
    "graft-memo-gcwin", "graft-fp", "graft-memo-own", "graft-memo-tgt",
    "graft-memo-file")

  /** Flips the GLOBAL `graft.memo.durable` JVM property for the block.
    * ASSUMES suites run sequentially in the forked test JVM (the sbt
    * default here): under Test/testForkedParallel this flag would leak
    * into concurrently running suites and flake plan-shape/memo tests
    * nondeterministically — thread a scoped conf through instead if
    * parallel suites are ever enabled (r12 advice 5).
    */
  private def withDurable[A](f: => A): A = {
    sys.props.put("graft.memo.durable", "true")
    try f finally sys.props.remove("graft.memo.durable")
  }

  /** The fingerprint directories this test's durable calls publish under:
    * each fixture's fresh `sfDir` keys its own, so the test deletes them
    * when it ends.
    */
  private val published = scala.collection.mutable.Set.empty[java.nio.file.Path]

  /** [[SessionMemo.durable]] over the fixture `fix`, its fingerprint
    * directory recorded for deletion.
    */
  private def durable(fix: String, key: String)(build: => DataFrame): DataFrame = {
    published += java.nio.file.Paths.get(DurableCache.root, DurableCache.fingerprint(spark, fix))
    SessionMemo.durable(spark, fix, key)(build)
  }

  private def fingerprintDirs(): Set[String] =
    Option(new java.io.File(DurableCache.root).list()).fold(Set.empty[String])(_.toSet)
      .filter(_.matches("[0-9a-f]{32}"))

  /** Each test deletes the fingerprint directories it published under and
    * fails if it leaves a new one in the root.
    */
  override def withFixture(test: NoArgTest): Outcome = {
    val before = fingerprintDirs()
    val outcome =
      try super.withFixture(test)
      finally { published.foreach(deleteTree); published.clear() }
    val left = fingerprintDirs() -- before
    outcome match {
      case Succeeded if left.nonEmpty =>
        Failed(s"${DurableCache.root} gained fingerprint directories: $left")
      case other => other
    }
  }

  /** The published entry directory of `key`:
    * `<root>/<fingerprint>/<key prefix>-<md5(key) prefix>`.
    */
  private def entryDir(key: String): java.nio.file.Path = {
    val keyHash = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(DurableCache.root))
    val dirs =
      try walk.iterator().asScala.filter(p =>
        java.nio.file.Files.isDirectory(p) && p.getFileName.toString.endsWith(s"-$keyHash")).toList
      finally walk.close()
    assert(dirs.size === 1, dirs)
    dirs.head
  }

  /** Fresh fixture dir with one tiny parquet "table". */
  private def mkFixture(): String = {
    val dir = tempDir("graft-durable-fix").toString
    spark.range(5).select(col("id"), (col("id") * 2).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/t.parquet")
    dir
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("off by default: behaves as the in-memory memo, writes nothing") {
    val fix = mkFixture()
    var builds = 0
    def build: DataFrame = { builds += 1; spark.range(3).toDF("n") }
    val key = s"durableOffSpec|$fix"
    val a = durable(fix, key)(build)
    val b = durable(fix, key)(build)
    assert(builds == 1 && sortedRows(a) == sortedRows(b))
    val memoRoot = new java.io.File(DurableCache.root)
    // no entry for THIS key may exist (other suites never enable the prop)
    if (memoRoot.exists()) {
      val walk = java.nio.file.Files.walk(memoRoot.toPath)
      val found = new scala.collection.mutable.ArrayBuffer[String]
      try walk.iterator().forEachRemaining(p => found += p.toString)
      finally walk.close()
      assert(!found.exists(_.contains("durableOffSpec")),
        s"off-switch leaked a durable entry: $found")
    }
    SessionMemo.invalidate(spark)
  }

  test("the test JVM publishes outside the default per-user root") {
    // entries published by this suite must not fill the GC rank of the
    // root that Verify and Bench read (build.sbt sets GRAFT_MEMO_DIR)
    assert(DurableCache.root != DurableCache.defaultRoot,
      s"tests publish into the per-user cache ${DurableCache.defaultRoot}")
  }

  test("on: builds once, later JVM reads parquet with identical rows+schema") {
    withDurable {
      val fix = mkFixture()
      var builds = 0
      def build: DataFrame = {
        builds += 1
        spark.read.parquet(s"$fix/t.parquet")
          .groupBy((col("id") % 2).as("par"))
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"),
            round(avg(col("v")), 6).as("av"))
      }
      val key = s"durableOnSpec|$fix"
      val first = durable(fix, key)(build)
      val firstRows = sortedRows(first)
      val firstSchema = first.schema
      assert(builds == 1)
      // simulate a fresh JVM: drop the in-memory tier, keep /tmp
      SessionMemo.invalidate(spark)
      val second = durable(fix, key)(build)
      assert(builds == 1, "second JVM must read the durable copy, not rebuild")
      assert(sortedRows(second) == firstRows)
      assert(second.schema.map(f => (f.name, f.dataType)) ==
        firstSchema.map(f => (f.name, f.dataType)),
        s"schema must round-trip: ${second.schema} vs $firstSchema")
      SessionMemo.invalidate(spark)
    }
  }

  test("empty result round-trips with its schema via the sidecar") {
    withDurable {
      val fix = mkFixture()
      var builds = 0
      def build: DataFrame = {
        builds += 1
        spark.read.parquet(s"$fix/t.parquet")
          .where(col("id") < -1)
          .select(col("id"), col("v").cast("decimal(20,2)").as("d"),
            array(col("v")).as("arr"))
      }
      val key = s"durableEmptySpec|$fix"
      val first = durable(fix, key)(build)
      assert(first.count() == 0)
      SessionMemo.invalidate(spark)
      val second = durable(fix, key)(build)
      assert(builds == 1 && second.count() == 0)
      assert(second.schema.map(f => (f.name, f.dataType)) == Seq(
        ("id", LongType), ("d", DecimalType(20, 2)),
        ("arr", ArrayType(LongType, containsNull = false))) ||
        second.schema.map(f => (f.name, f.dataType)) == Seq(
          ("id", LongType), ("d", DecimalType(20, 2)),
          ("arr", ArrayType(LongType, containsNull = true))),
        s"empty frame must keep its schema, got ${second.schema}")
      SessionMemo.invalidate(spark)
    }
  }

  test("touching a source file's mtime invalidates (rebuild, never stale)") {
    withDurable {
      val fix = mkFixture()
      var builds = 0
      def build: DataFrame = { builds += 1; spark.range(2).toDF("n") }
      val key = s"durableFpSpec|$fix"
      durable(fix, key)(build)
      assert(builds == 1)
      SessionMemo.invalidate(spark)
      // nudge every file's mtime forward (content unchanged is irrelevant
      // — the fingerprint is (name, len, mtime))
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(fix))
      try walk.iterator().forEachRemaining { p =>
        java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            java.nio.file.Files.getLastModifiedTime(p).toMillis + 5000))
      } finally walk.close()
      durable(fix, key)(build)
      assert(builds == 2, "changed data fingerprint must rebuild")
      SessionMemo.invalidate(spark)
    }
  }

  test("a DEEPLY nested leaf rewrite invalidates even with parent mtimes restored") {
    withDurable {
      val fix = mkFixture()
      // three-level partitioned layout: t2.parquet/day=1/hour=2/part.parquet
      val leafDir = java.nio.file.Paths.get(s"$fix/t2.parquet/day=1/hour=2")
      java.nio.file.Files.createDirectories(leafDir)
      val leaf = leafDir.resolve("part-00000.parquet")
      java.nio.file.Files.write(leaf, Array[Byte](1, 2, 3))
      def mtimes(): Seq[(java.nio.file.Path, java.nio.file.attribute.FileTime)] =
        Seq(java.nio.file.Paths.get(fix), java.nio.file.Paths.get(s"$fix/t2.parquet"),
          leafDir.getParent, leafDir)
          .map(p => p -> java.nio.file.Files.getLastModifiedTime(p))
      val dirTimes = mtimes()
      var builds = 0
      def build: DataFrame = { builds += 1; spark.range(2).toDF("n") }
      val key = s"durableNestedSpec|$fix"
      durable(fix, key)(build)
      assert(builds == 1)
      SessionMemo.invalidate(spark)
      // rewrite the LEAF in place (same name set), then RESTORE every
      // ancestor dir mtime — the r12 latent gap: a one-level listing sees
      // only unchanged dir mtimes and would serve the stale cache
      java.nio.file.Files.write(leaf, Array[Byte](9, 9, 9, 9))
      java.nio.file.Files.setLastModifiedTime(leaf,
        java.nio.file.attribute.FileTime.fromMillis(
          java.nio.file.Files.getLastModifiedTime(leaf).toMillis + 7000))
      dirTimes.foreach { case (p, t) =>
        java.nio.file.Files.setLastModifiedTime(p, t) }
      durable(fix, key)(build)
      assert(builds == 2,
        "a nested leaf rewrite must re-key the durable cache, never serve stale")
      SessionMemo.invalidate(spark)
    }
  }

  test("fingerprint gc keeps current + 3 newest, touches only 32-hex dirs") {
    // own root: the test must neither depend on nor delete real cache
    // entries another run of this round may have published
    val root = tempDir("graft-memo-gcspec")
    def mk(name: String, ageMin: Long): java.nio.file.Path = {
      val d = root.resolve(name)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.setLastModifiedTime(d,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageMin * 60000))
      d
    }
    val current = mk("c" * 32, 0)
    val stale = (1 to 5).map(i => mk(f"${i}%032x", 10L + i)) // 1..5, older = bigger i
    val notFp = mk("not-a-fingerprint-dir", 99) // wrong shape: must survive
    DurableCache.gcStaleFingerprints(current.getFileName.toString,
      root = root.toString, minAgeMs = 5 * 60000L)
    assert(java.nio.file.Files.exists(current), "current fingerprint must survive")
    assert(java.nio.file.Files.exists(notFp), "non-fingerprint dirs are never touched")
    val survivors = stale.filter(java.nio.file.Files.exists(_)).map(_.getFileName.toString)
    assert(survivors == stale.take(3).map(_.getFileName.toString),
      s"expected the 3 newest stale fingerprints to survive, got $survivors")
  }

  test("gc never deletes a fingerprint modified within the recency window") {
    // r13 advice 2: a concurrent same-round JVM's dir (4th-newest or
    // older by rank) must survive the sweep while it could still be read
    // — the durable read-back is lazy, so deletion mid-round would fail
    // its consumer's action rather than fall back
    val root = tempDir("graft-memo-gcwin")
    def mk(name: String, ageMin: Long): java.nio.file.Path = {
      val d = root.resolve(name)
      java.nio.file.Files.createDirectories(d)
      java.nio.file.Files.setLastModifiedTime(d,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - ageMin * 60000))
      d
    }
    val current = mk("c" * 32, 0)
    val recent = (1 to 5).map(i => mk(f"${i}%032x", 10L + i)) // all < 6 h old
    val ancient = mk("a" * 32, 10 * 60) // 10 h: beyond rank 3 AND the window
    DurableCache.gcStaleFingerprints(current.getFileName.toString,
      root = root.toString) // default 6 h window
    assert(recent.forall(java.nio.file.Files.exists(_)),
      "recently-modified fingerprints must survive even beyond the keep-3 rank")
    assert(!java.nio.file.Files.exists(ancient),
      "a dir beyond both the rank and the age floor is collected")
  }

  /** Packs `classes` (name → bytes) into a jar with the given fixed entry
    * timestamp — the sbt-repackaging variable the fingerprint must ignore.
    */
  private def mkJar(classes: Seq[(String, Array[Byte])], stampMs: Long,
      extra: Seq[(String, Array[Byte])] = Seq.empty): java.io.File = {
    val f = tempFile("graft-fp", ".jar").toFile
    val out = new java.util.jar.JarOutputStream(
      new java.io.FileOutputStream(f))
    try (classes ++ extra).foreach { case (name, bytes) =>
      val e = new java.util.jar.JarEntry(name)
      e.setTime(stampMs)
      out.putNextEntry(e)
      out.write(bytes)
      out.closeEntry()
    } finally out.close()
    f
  }

  test("code fingerprint is packaging-stable: timestamps, order, resources") {
    // r13 verdict item 1: two sbt packagings of byte-identical classes
    // (differing only in zip entry timestamps / resource files) must share
    // one fingerprint, or the driver's jar run can never hit the builder's
    // warmed cache; and a jar must fingerprint equal to the classes DIR it
    // was packed from, so classes-dir and jar runs share entries too
    val a = "graft/Alpha.class" -> Array[Byte](1, 2, 3, 4)
    val b = "graft/sub/Beta.class" -> Array[Byte](5, 6, 7)
    val jar1 = mkJar(Seq(a, b), stampMs = 1000000000000L)
    val jar2 = mkJar(Seq(b, a), stampMs = 1700000000000L, // reordered + restamped
      extra = Seq("META-INF/MANIFEST.MF" -> "Main-Class: X\n".getBytes))
    assert(DurableCache.fingerprintOf(jar1) == DurableCache.fingerprintOf(jar2),
      "identical class bytes must fingerprint equal across packagings")
    val dir = tempDir("graft-fp-dir")
    Seq(a, b).foreach { case (name, bytes) =>
      val p = dir.resolve(name)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, bytes)
    }
    assert(DurableCache.fingerprintOf(dir.toFile) ==
      DurableCache.fingerprintOf(jar1),
      "a jar and the classes dir it was packed from must fingerprint equal")
    val jar3 = mkJar(Seq(a, "graft/sub/Beta.class" -> Array[Byte](5, 6, 8)),
      stampMs = 1000000000000L)
    assert(DurableCache.fingerprintOf(jar1) != DurableCache.fingerprintOf(jar3),
      "a real byte change in any class must re-key")
  }

  test("an entry without its schema sidecar is rebuilt, never read back") {
    withDurable {
      val fix = mkFixture()
      var builds = 0
      def build: DataFrame = { builds += 1; spark.range(4).toDF("n") }
      val key = s"durableNoSidecarSpec|$fix"
      val first = sortedRows(durable(fix, key)(build))
      SessionMemo.invalidate(spark)
      java.nio.file.Files.delete(entryDir(key).resolve("_graft_schema.json"))
      assert(sortedRows(durable(fix, key)(build)) === first)
      assert(builds === 2, "a corrupt entry must fall back to a build")
      SessionMemo.invalidate(spark)
    }
  }

  test("an entry with a truncated data file is rebuilt and republished") {
    withDurable {
      val fix = mkFixture()
      var builds = 0
      def build: DataFrame = { builds += 1; spark.range(40).toDF("n") }
      val key = s"durableTruncatedSpec|$fix"
      val first = sortedRows(durable(fix, key)(build))
      SessionMemo.invalidate(spark)
      val listing = java.nio.file.Files.list(entryDir(key))
      val part =
        try listing.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
        finally listing.close()
      val ch = java.nio.channels.FileChannel.open(part, java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(ch.size() / 2) finally ch.close()
      // the read-back fails inside durable(), which rebuilds and republishes
      assert(sortedRows(durable(fix, key)(build)) === first)
      assert(builds === 2, "a truncated entry must be rebuilt")
      SessionMemo.invalidate(spark)
      assert(sortedRows(durable(fix, key)(build)) === first)
      assert(builds === 2, "the republished entry must read back without a build")
      SessionMemo.invalidate(spark)
    }
  }

  test("a builder whose plan fails at EXECUTION propagates, not double-runs") {
    // r13 advice 4: builds are lazy, so a failing plan blows up inside
    // write.parquet with built != null — the old fallback served the same
    // failing frame and the consumer crashed AGAIN after re-running the
    // full build; now the first crash propagates out of durable() itself
    withDurable {
      val fix = mkFixture()
      var builds = 0
      def build: DataFrame = {
        builds += 1
        spark.read.parquet(s"$fix/t.parquet")
          .select(assert_true(col("id") < 2).as("a"), col("id"))
      }
      val key = s"durableExecFailSpec|$fix"
      intercept[Exception] { durable(fix, key)(build) }
      assert(builds == 1, "the failing builder must run exactly once")
      SessionMemo.invalidate(spark)
    }
  }

  test("a symlinked or uncreatable durable root is not trusted; own dir is") {
    // r13 advice 1 (the testable half — a foreign-OWNED dir needs a second
    // uid): the trust check must reject the shapes an attacker can plant
    val own = tempDir("graft-memo-own")
    assert(DurableCache.trustedRoot(own.toString),
      "a directory we just created and own is trusted")
    val target = tempDir("graft-memo-tgt")
    // the check must not CHMOD through the link either — a symlinked
    // default root redirecting a chmod 700 onto a victim-owned shared
    // dir would make the hardening itself the vector (r14 review)
    val shared = java.nio.file.attribute.PosixFilePermissions
      .fromString("rwxr-xr-x")
    java.nio.file.Files.setPosixFilePermissions(target, shared)
    val link = java.nio.file.Paths.get(own.toString + "-link")
    java.nio.file.Files.createSymbolicLink(link, target)
    assert(!DurableCache.trustedRoot(link.toString),
      "a symlink root is never trusted (it may point into foreign space)")
    assert(java.nio.file.Files.getPosixFilePermissions(target) == shared,
      "rejecting a symlink root must not alter the target's permissions")
    val file = tempFile("graft-memo-file", "")
    assert(!DurableCache.trustedRoot(file.toString),
      "a non-directory root is never trusted")
    // an EXPLICIT GRAFT_MEMO_DIR is the operator's choice: trusted as
    // configured (admin-provisioned volumes are often not name-owned by
    // the running user), beyond being creatable
    assert(DurableCache.trustedRoot(link.toString, explicit = true),
      "an operator-configured root is trusted as configured")
    assert(!DurableCache.trustedRoot(
      java.nio.file.Paths.get(file.toString, "sub").toString, explicit = true),
      "an uncreatable explicit root still fails (nothing to cache into)")
    // trusting the explicit symlink root above must not have chmod'd its
    // target either — the tightening never goes through a link (r14
    // advice 4 + r15 review)
    assert(java.nio.file.Files.getPosixFilePermissions(target) == shared,
      "an explicit symlink root must not redirect the tightening")
    // a PRE-EXISTING explicit root keeps its operator-configured
    // permissions (a deliberately shared team volume must stay shared)...
    val ownExp = tempDir("graft-memo-ownexp")
    java.nio.file.Files.setPosixFilePermissions(ownExp, shared)
    assert(DurableCache.trustedRoot(ownExp.toString, explicit = true),
      "an owned explicit root is trusted")
    assert(java.nio.file.Files.getPosixFilePermissions(ownExp) == shared,
      "a pre-existing explicit root keeps its configured permissions")
    // ...while an explicit root CREATED by the check itself (no deliberate
    // configuration can exist for it) gets the best-effort auto-tightening
    val freshExp = java.nio.file.Paths.get(ownExp.toString, "fresh-sub")
    assert(DurableCache.trustedRoot(freshExp.toString, explicit = true),
      "a creatable explicit root is trusted")
    assert(java.nio.file.Files.getPosixFilePermissions(freshExp) ==
      java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"),
      "a just-created explicit root is auto-tightened (r14 advice 4)")
    java.nio.file.Files.delete(link) // the rest are tempDir/tempFile's
  }
}
