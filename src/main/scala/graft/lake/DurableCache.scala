package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one on-disk cache for derived tables that outlive a JVM: the
  * durable memo tier ([[graft.operators.SessionMemo.durable]]) and the
  * q382-q384 skipping layouts ([[Lake.clusteredScan]],
  * [[Lake.bloomPointLookup]], [[Lake.dppScan]]) share its root, its key
  * and its GC.
  *
  * [[publish]] lands a table at `<root>/<fingerprint>/<entry>`, where the
  * fingerprint covers every input of the function that built it:
  *  - DATA: every file under `sfDir` by (relpath, length, mtime),
  *    recursively, so an in-place rewrite of a leaf at any depth re-keys;
  *  - ENV: the Spark version and session timezone;
  *  - CODE: the content hash of the running classes, so a change to any
  *    builder or layout re-keys without hand-bumped name tokens.
  *
  * Stale fingerprints are swept by one GC ([[gcStaleFingerprints]]).
  * Layouts are always published; memo frames only when the driver opts in
  * and the root is trusted (see [[trusted]]).
  */
object DurableCache {

  /** `write(tmp)` builds the table for `key` over the data under `sfDir`
    * unless a complete copy is already published; returns the published
    * directory `<root>/<code+env+data fingerprint>/<entry>`.
    */
  def publish(spark: SparkSession, sfDir: String, key: String)(
      write: String => Unit): String =
    publishUnder(root, spark, sfDir, key)(write)

  private[graft] def publishUnder(root: String, spark: SparkSession,
      sfDir: String, key: String)(write: String => Unit): String = {
    val fp = fingerprint(spark, sfDir)
    // once per root and JVM: the set of live fingerprints does not change
    // under a running build
    if (swept.add(root)) gcStaleFingerprints(fp, root)
    // a readable key prefix for humans inspecting the cache, plus a key
    // hash so distinct keys never collide after sanitizing
    val safe = key.replaceAll("[^A-Za-z0-9._-]", "_").take(48)
    val dest = s"$root/$fp/$safe-${md5hex(key).take(16)}"
    publishAtomic(spark, dest)(write)
    dest
  }

  private val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The code+env+data fingerprint that names the directory under the
    * root where [[publish]] lands the tables built over `sfDir`.
    */
  private[graft] def fingerprint(spark: SparkSession, sfDir: String): String =
    md5hex(codeFingerprint + "\n" + envFingerprint(spark) + "\n" +
      dataFingerprint(spark, sfDir))

  /** The configured root: `GRAFT_MEMO_DIR` when set, else a PER-USER
    * directory under `java.io.tmpdir` (`graft-memo-<user>`). A shared
    * world-writable root on a multi-user host would let another user
    * pre-own the directory or pre-plant a parquet dir + `_SUCCESS` that
    * Verify would read back as truth; scoping by user and [[trustedRoot]]
    * close both, and the env override lets operators place the cache on a
    * bigger/faster volume.
    */
  private lazy val configured: String = sys.env.getOrElse("GRAFT_MEMO_DIR", defaultRoot)

  /** The per-user root used when `GRAFT_MEMO_DIR` is unset. */
  private[graft] def defaultRoot: String =
    s"${sys.props("java.io.tmpdir")}/graft-memo-" +
      sys.props.getOrElse("user.name", "anon").replaceAll("[^A-Za-z0-9._-]", "_")

  /** Where [[publish]] lands: the configured root when trusted, else a
    * private per-JVM directory.
    */
  private[graft] lazy val root: String =
    rootFor(configured, explicit = sys.env.contains("GRAFT_MEMO_DIR"))

  /** Whether the configured root is trusted. Only then do memo frames go
    * to disk: a private per-JVM root would cost a parquet round trip per
    * build and serve no later JVM.
    */
  def trusted: Boolean = root == configured

  /** `dir` when [[trustedRoot]] accepts it, else a fresh owner-only
    * directory deleted at JVM exit, so a planted `_SUCCESS` copy under an
    * untrusted root is never read.
    */
  private[graft] def rootFor(dir: String, explicit: Boolean): String =
    if (trustedRoot(dir, explicit)) dir
    else {
      // createTempDirectory gives rwx------ on POSIX file systems
      val own = java.nio.file.Files.createTempDirectory("graft-cache-").toFile
      sys.addShutdownHook(deleteRecursively(own))
      own.toString
    }

  /** Whether `root` may be TRUSTED as a cache. The DEFAULT root lives
    * under a world-writable /tmp, where `createDirectories` succeeds on a
    * pre-existing dir and a permission tightening is silently swallowed
    * when we are not the owner — so without a check another user could
    * pre-create `/tmp/graft-memo-<user>` and have Verify read back a
    * pre-planted parquet dir + `_SUCCESS`. The default root is therefore
    * only trusted when it is a real non-symlink directory OWNED by the
    * current user. An EXPLICIT `GRAFT_MEMO_DIR` is the operator's own
    * choice of root (admin-provisioned volumes are often group-writable or
    * service-account-owned, and container uids may not name-match
    * `user.name`): the planted-root attack requires an attacker-creatable
    * PATH, which an operator-chosen location is not — it is trusted as
    * configured, beyond being creatable. Filesystems that cannot report
    * ownership (non-POSIX) are trusted: single-user environments here.
    */
  private[graft] def trustedRoot(root: String,
      explicit: Boolean = false): Boolean = {
    val ok = try {
      val p = java.nio.file.Paths.get(root)
      val preExisting = java.nio.file.Files.exists(p,
        java.nio.file.LinkOption.NOFOLLOW_LINKS)
      java.nio.file.Files.createDirectories(p)
      if (explicit) {
        // best-effort tightened ONLY when this call just created it. A
        // PRE-EXISTING explicit root keeps whatever permissions the
        // operator set: chmod'ing an owned-but-deliberately-shared volume
        // (a setgid team dir two service users share) would silently break
        // the second user's reads. The symlink re-check closes the
        // exists→create race: an attacker with a writable parent could
        // plant a symlink-to-existing-dir BETWEEN the NOFOLLOW exists()
        // probe and createDirectories() (which succeeds through such a
        // link), and the chmod would then strip the victim target's
        // permissions.
        if (!preExisting && !java.nio.file.Files.isSymbolicLink(p))
          try java.nio.file.Files.setPosixFilePermissions(p,
            java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
          catch { case scala.util.control.NonFatal(_) => () } // best-effort
        true
      }
      // ORDER MATTERS: reject a symlinked root BEFORE touching
      // permissions — a chmod through an attacker-planted symlink would
      // strip group/other access from whatever victim-owned directory it
      // points at (the hardening must not be the vector)
      else if (java.nio.file.Files.isSymbolicLink(p) ||
          !java.nio.file.Files.isDirectory(p,
            java.nio.file.LinkOption.NOFOLLOW_LINKS)) false
      else {
        val owned =
          try java.nio.file.Files.getOwner(p,
              java.nio.file.LinkOption.NOFOLLOW_LINKS).getName ==
            sys.props.getOrElse("user.name", "")
          catch { case _: UnsupportedOperationException => true } // no owners
        if (owned)
          try java.nio.file.Files.setPosixFilePermissions(p,
            java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
          catch { case _: UnsupportedOperationException => () } // non-POSIX fs
        owned
      }
    } catch {
      // creation failed (read-only tmp, quota): nothing to cache into
      case scala.util.control.NonFatal(_) => false
    }
    if (!ok) System.err.println(s"[cache] root $root is not a user-owned " +
      "directory (pre-created by another user, a symlink, or uncreatable) " +
      "— memo frames stay in memory, layouts go to a private per-JVM directory")
    ok
  }

  /** Publish into `dest` ATOMICALLY: `write` lands in a process-unique
    * sibling temp dir that is then renamed into place. Two concurrent JVMs
    * (a bench and a spec run) can both observe `_SUCCESS` missing and
    * build; with an in-place mode(overwrite) write the loser would delete
    * the winner's directory mid-read. With publish-by-rename, readers only
    * ever see a complete directory: whoever renames first wins, the loser
    * detects the now-complete destination and discards its temp copy (the
    * MaintainedTable swap pattern).
    */
  private[lake] def publishAtomic(spark: SparkSession, dest: String)(
      write: String => Unit): Unit = {
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sessionState.newHadoopConf())
    val done = new Path(destPath, "_SUCCESS")
    if (fs.exists(done)) return
    val tmp = new Path(destPath.getParent,
      s".${destPath.getName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    write(tmp.toString)
    fs.mkdirs(destPath.getParent)
    // a leftover INCOMPLETE destination (a writer that crashed before its
    // rename, or a pre-atomic in-place write) blocks the rename forever.
    // Move it ASIDE first instead of deleting in place: after the atomic
    // rename-to-trash nobody can complete it anymore, so checking the
    // trash copy for _SUCCESS decides race-free whether we swept a
    // genuine incomplete leftover (drop it) or a WINNER that published
    // between the done check and the sweep (reinstall their complete
    // copy; a plain delete here would have destroyed it)
    if (fs.exists(destPath) && !fs.exists(done)) {
      val trash = new Path(destPath.getParent,
        s".${destPath.getName}.trash-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      if (fs.rename(destPath, trash)) {
        if (fs.exists(new Path(trash, "_SUCCESS"))) {
          // swept a complete winner: put it back (or drop our sweep if a
          // third writer already reinstalled while it sat in trash).
          // A refused reinstall does NOT by itself prove a third writer —
          // a transient fs refusal would leave dest absent with the only
          // complete copy in trash, so deleting is only safe once
          // dest/_SUCCESS is POSITIVELY observed; otherwise retry, and as
          // a last resort leave the trash copy on disk (a leaked dir; the
          // next identical deterministic build republishes) rather than
          // destroy the winner
          var reinstalled = fs.rename(trash, destPath)
          var retries = 2
          while (!reinstalled && !fs.exists(done) && retries > 0) {
            retries -= 1
            reinstalled = fs.rename(trash, destPath)
          }
          if (!reinstalled) {
            if (fs.exists(done)) fs.delete(trash, true) // third writer won
            else System.err.println(s"[cache] reinstall of swept winner " +
              s"$destPath kept refusing with no complete destination; " +
              s"leaving complete copy at $trash")
          } else {
            // the reinstall itself races a third writer's publish: rename
            // onto a directory that (re)appeared MOVES trash INSIDE it
            // and returns true — the same nesting hazard handled for tmp
            // below; detect and drop the nested sweep copy
            val nestedTrash = new Path(destPath, trash.getName)
            if (fs.exists(nestedTrash)) fs.delete(nestedTrash, true)
          }
        } else fs.delete(trash, true) // verified incomplete AFTER the move
      }
      // rename refused: a concurrent publisher/cleaner got there first —
      // fall through to the exists checks below
    }
    if (fs.exists(destPath)) {
      // another writer won while we were building: do NOT rename — Hadoop
      // rename onto an existing directory MOVES the source INSIDE it
      // (returning true), which would nest our temp copy under the
      // published path forever. Drop ours instead
      fs.delete(tmp, true)
      if (!fs.exists(done))
        sys.error(s"publish of $dest failed: destination exists without " +
          "_SUCCESS after leftover cleanup")
      return
    }
    if (!fs.rename(tmp, destPath)) {
      // rename refused: another writer won the race — their copy is
      // complete (rename is their last step); drop ours
      fs.delete(tmp, true)
      if (!fs.exists(done))
        sys.error(s"publish of $dest failed: rename refused with no winner")
    } else {
      // rename "succeeded" but may have LOST anyway: if a winner renamed
      // between our exists check and ours, Hadoop moved tmp INSIDE their
      // directory instead of installing it — detect the nesting and
      // remove our copy (the winner's _SUCCESS is already in place)
      val nested = new Path(destPath, tmp.getName)
      if (fs.exists(nested)) {
        fs.delete(nested, true)
        if (!fs.exists(done))
          sys.error(s"publish of $dest failed: nested rename with no winner")
      }
    }
  }

  /** Best-effort retention sweep of STALE fingerprint directories under
    * `root`: every recompile abandons its entries under a now-dead
    * fingerprint, and nothing else ever deletes them. Keeps `current` plus
    * the 3 most recently modified others — enough for the sibling JVMs of
    * one gate run (Verify at two scales + Bench each fingerprint a
    * different sfDir) and for one concurrent older-code JVM. Beyond the
    * keep-3 rank, a dir is only deleted once it has been UNMODIFIED for
    * `minAgeMs` (6 h): a layout scan is lazy, so a concurrent older-code
    * JVM whose 4th-newest dir was swept would read a deleted parquet in
    * its consumer's action and FAIL (a memo read-back is materialized
    * inside [[graft.operators.SessionMemo.durable]] and rebuilds instead).
    * The residual race (a reader consuming a >6 h-cold dir exactly as a
    * new JVM sweeps it) is accepted: best-effort GC must delete SOMETHING
    * eventually. Only names of the 32-hex fingerprint shape are touched.
    */
  private[graft] def gcStaleFingerprints(current: String, root: String,
      minAgeMs: Long = 6L * 3600 * 1000): Unit =
    try {
      val dirs = Option(new java.io.File(root).listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.matches("[0-9a-f]{32}") &&
          f.getName != current)
      val cutoff = System.currentTimeMillis() - minAgeMs
      dirs.sortBy(-_.lastModified()).drop(3)
        .filter(_.lastModified() < cutoff).foreach { d =>
        System.err.println(s"[cache] gc stale fingerprint ${d.getName}")
        deleteRecursively(d)
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[cache] fingerprint gc failed: ${e.getMessage}")
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Results-relevant runtime beyond this project's own classes: the
    * Spark/dependency stack (a Spark upgrade changes build semantics with
    * the project bytes unchanged) and the session timezone (the one
    * session conf these deterministic builds can observe; every
    * driver-contract session pins UTC via GraftSession, but a library
    * consumer's might not).
    */
  private def envFingerprint(spark: SparkSession): String =
    s"spark=${org.apache.spark.SPARK_VERSION};" +
      s"tz=${spark.conf.get("spark.sql.session.timeZone", "")}"

  /** RECURSIVE (relpath, len, mtime) listing of `sfDir`, hashed: a leaf
    * file of a partitioned table rewritten in place three levels down
    * changes only its own mtime, never its ancestors'. Directories
    * contribute their relpath only (their mtimes churn on unrelated
    * sibling writes once the files themselves are covered). Depth-capped
    * at 32 purely as a symlink-cycle guard; testdata is ≤3.
    */
  private def dataFingerprint(spark: SparkSession, sfDir: String): String = {
    val p = new Path(sfDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(dir: Path, prefix: String, depth: Int): Unit =
      fs.listStatus(dir).foreach { s =>
        if (s.isDirectory) {
          entries += s"$prefix${s.getPath.getName}/:dir"
          if (depth < 32) walk(s.getPath, s"$prefix${s.getPath.getName}/", depth + 1)
        } else entries += s"$prefix${s.getPath.getName}:${s.getLen}:${s.getModificationTime}"
      }
    walk(p, "", 0)
    md5hex((p.toString +: entries.sorted.toSeq).mkString("\n"))
  }

  /** Fingerprint of the running code: [[fingerprintOf]] this class's code
    * source. Content, not mtime: sbt repackages a fresh run jar per
    * invocation, so an mtime key would never hit, while any real code
    * change alters some class's bytes. Computed once per JVM (~3 MB of
    * class files, tens of ms). An unreadable code source yields a per-JVM
    * token, which degrades the cache to per-JVM semantics rather than
    * risking a stale read — and is logged, because silently rebuilding
    * every JVM is the regression this cache exists to fix.
    */
  private lazy val codeFingerprint: String =
    try {
      val loc = getClass.getProtectionDomain.getCodeSource.getLocation.toURI
      val f = new java.io.File(loc)
      val fp = fingerprintOf(f)
      System.err.println(s"[cache] code fingerprint $fp from $f")
      fp
    } catch {
      case e: Throwable =>
        System.err.println("[cache] code fingerprint unavailable " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}) — the cache " +
          "will not be shared across JVMs")
        s"nocode-${ProcessHandle.current().pid()}"
    }

  /** `(relpath, bytes)` content hash of the .class files in a code source
    * — a jar file or a classes directory (jar entry names ARE the class
    * files' relative paths), so a jar and the classes dir it was packed
    * from, or two packagings of byte-identical classes, share one
    * fingerprint. Entry order (sorted), zip timestamps, compression levels
    * and non-class resources (MANIFEST et al.) do not contribute.
    */
  private[graft] def fingerprintOf(f: java.io.File): String = {
    import scala.jdk.CollectionConverters._
    val entries =
      if (f.isFile) {
        val jar = new java.util.jar.JarFile(f)
        try jar.entries().asScala
          .filter(e => !e.isDirectory && e.getName.endsWith(".class"))
          .map { e =>
            val in = jar.getInputStream(e)
            val bytes = try in.readAllBytes() finally in.close()
            s"${e.getName}:${md5hex(bytes)}"
          }.toSeq.sorted
        finally jar.close()
      } else {
        val base = f.toPath
        val walk = java.nio.file.Files.walk(base)
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".class"))
          .map { q =>
            s"${base.relativize(q)}:" +
              md5hex(java.nio.file.Files.readAllBytes(q))
          }.toSeq.sorted
        finally walk.close()
      }
    md5hex(entries.mkString("\n"))
  }

  private def md5hex(s: String): String =
    md5hex(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString
}
