package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo of expensive, multiply-consumed curation tables
  * (LSH pair lists, resolved components, decontamination verdicts).
  *
  * Spark's CacheManager already shares InMemoryRelations between IDENTICAL
  * analyzed plans, but the composed curation queries rebuild their
  * sub-pipelines through fresh `localCheckpoint`/iteration boundaries that
  * never canonicalize equal — so q61 used to cost ~q50 + q56 even right
  * after both ran. Memoizing the RESULT DataFrame per (session, arguments)
  * lets every consumer in the session share one persisted computation;
  * results are deterministic, so sharing cannot change any query's output.
  *
  * Sessions are keyed by OBJECT IDENTITY (SparkSession does not override
  * equals), so one session's cache can never answer another's — unlike a
  * hash-derived string key, which could collide. A WeakHashMap would NOT
  * reclaim anything here: the memoized DataFrames strongly reference
  * their own session (value → key), which pins WeakHashMap entries
  * forever. Instead the per-session maps live in a small access-ordered
  * LRU (64 sessions); an evicted session's tables are unpersisted — any
  * still-held DataFrame stays correct and simply recomputes. Values are
  * persisted
  * MEMORY_AND_DISK — all memoized tables are pair/doc-count-sized, orders
  * of magnitude below the corpus. The benign race (two threads building
  * the same key once each) is accepted over `computeIfAbsent`, whose
  * reentrancy ban a nested memoized build (components → pairs) would trip;
  * the losing thread's already-persisted DataFrame is unpersisted so the
  * race cannot leak a CacheManager registration.
  *
  * The memo is the one record of what it built: every miss is timed from
  * evaluating the builder to the end of its materializing count, nested
  * builds are subtracted, and [[snapshot]] exposes the JVM-wide per-key
  * build/hit [[Stats]] — Bench charges a run's memo builds to their keys
  * from two snapshots instead of prebuilding stand-in queries.
  *
  * ASSUMPTION: the data under a memo key (the parquet files of an sfDir)
  * is immutable for the session — keys carry the inputs' PATHS and
  * parameters, not content hashes. A session that rewrites its input
  * fixtures in place must call [[invalidate]] to drop the stale entries
  * (the specs that regenerate fixtures do exactly this).
  */
private[graft] object SessionMemo {
  private val MaxSessions = 64

  /** A table's identity within its session: a string key, or (for
    * [[ofPlan]]) a name plus the canonicalized analyzed plan.
    */
  private final case class Key(name: String, plan: Option[LogicalPlan])

  private val bySession =
    new java.util.LinkedHashMap[SparkSession, ConcurrentHashMap[Key, DataFrame]](
      16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[SparkSession, ConcurrentHashMap[Key, DataFrame]]): Boolean = {
        val evict = size() > MaxSessions
        if (evict) e.getValue.forEach { (_, df) =>
          try df.unpersist(blocking = false) catch { case _: Throwable => () }
        }
        evict
      }
    }

  private def sessionTables(spark: SparkSession): ConcurrentHashMap[Key, DataFrame] =
    bySession.synchronized {
      val existing = bySession.get(spark)
      if (existing != null) existing
      else {
        val m = new ConcurrentHashMap[Key, DataFrame]()
        bySession.put(spark, m)
        m
      }
    }

  /** Cumulative record of one memo key: builds (and how many of them
    * failed to materialize), hits, and the builds' SELF seconds — wall time
    * from evaluating the builder to the end of its materializing count,
    * minus the memo builds nested inside it.
    */
  final case class Stats(builds: Long, failures: Long, hits: Long, selfSec: Double) {
    def +(o: Stats): Stats =
      Stats(builds + o.builds, failures + o.failures, hits + o.hits, selfSec + o.selfSec)
    def -(o: Stats): Stats =
      Stats(builds - o.builds, failures - o.failures, hits - o.hits, selfSec - o.selfSec)
  }
  object Stats { val zero: Stats = Stats(0, 0, 0, 0.0) }

  // JVM-wide, not per session, so builds on GraftSession.derived children
  // are counted too; bounded by the number of distinct keys
  private val stats = new ConcurrentHashMap[String, Stats]()

  // wall nanos of the memo builds recorded on this thread so far: a build's
  // self time is its wall time minus what this advanced by meanwhile
  private val recordedNanos = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Every key's cumulative [[Stats]] in this JVM. */
  def snapshot(): Map[String, Stats] = {
    import scala.jdk.CollectionConverters._
    stats.asScala.toMap
  }

  private def record(name: String, s: Stats): Unit = stats.merge(name, s, _ + _): Unit

  def apply(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo(spark, Key(key, None))(build)

  /** `df` itself, memoized under `name` and its canonicalized analyzed
    * plan: two frames share one table exactly when Spark's `sameResult`
    * holds (fresh exprIds still match), and distinct plans never share one,
    * whatever their hashes.
    */
  def ofPlan(name: String, df: DataFrame): DataFrame =
    memo(df.sparkSession,
      Key(name, Some(df.queryExecution.analyzed.canonicalized)))(df)

  private def memo(spark: SparkSession, key: Key)(build: => DataFrame): DataFrame = {
    val tables = sessionTables(spark)
    val existing = tables.get(key)
    if (existing != null) {
      record(key.name, Stats.zero.copy(hits = 1))
      existing
    } else {
      val nested0 = recordedNanos.get
      val t0 = System.nanoTime()
      // charges [t0, now) less the nested builds to `key` and returns the
      // self and total seconds
      def charge(failed: Boolean): (Double, Double) = {
        val total = System.nanoTime() - t0
        val self = total - (recordedNanos.get - nested0)
        recordedNanos.set(nested0 + total)
        record(key.name, Stats(1, if (failed) 1 else 0, 0, self / 1e9))
        (self / 1e9, total / 1e9)
      }
      val df =
        try build.persist(StorageLevel.MEMORY_AND_DISK)
        catch { case e: Throwable => charge(failed = true); throw e }
      val prev = tables.putIfAbsent(key, df)
      if (prev != null) {
        // lost the benign build race: release this thread's persist so the
        // CacheManager holds exactly one registration per key
        try df.unpersist(blocking = false) catch { case _: Throwable => () }
        record(key.name, Stats.zero.copy(hits = 1))
        prev
      } else {
        // materialize NOW: the cache fills with the full plan output either
        // way (InMemoryRelation doesn't prune per consumer), and the build
        // is charged to its key instead of to whichever query touched it
        // first
        val rows = try Some(df.count()) catch { case _: Throwable => None }
        val (self, total) = charge(failed = rows.isEmpty)
        // on failure the consumer's own action re-throws
        rows.foreach(n => System.err.println(f"[memo] built ${key.name}: " +
          f"$n rows in $total%.2f s ($self%.2f s self)"))
        df
      }
    }
  }

  /** Disk-backed tier over [[apply]] for the EXPENSIVE deterministic memo
    * families (LSH pair lists, decontamination verdicts, truth sets): the
    * result is published once per (code, env, data) fingerprint through
    * [[graft.lake.DurableCache.publish]], and every LATER JVM on the same
    * host reads the parquet instead of rebuilding (the driver bench's first
    * pass used to re-pay ~300 s of deterministic memo builds that an
    * earlier JVM on the same host had already done). The cache key and its
    * staleness safety are DurableCache's.
    *
    * Schema fidelity: the builder's schema (as-nullable) is stored in a
    * `_graft_schema.json` sidecar and replayed through `read.schema`, so
    * types round-trip exactly and an empty result still reads back with
    * its schema. Values round-trip exactly too — parquet stores the
    * binary forms of every type these memos emit (long/int/double/
    * decimal/string/array/struct; timestamps under the pinned-UTC
    * session).
    *
    * OPT-IN via the `graft.memo.durable` system property: the
    * driver-run mains (GraftSession.driver) enable it; tests and
    * library consumers keep the pure in-memory behavior (plan-shape
    * sweeps stay deterministic regardless of /tmp state), checked before
    * the file system is touched at all. An untrusted cache root keeps the
    * frames in memory too. Failure semantics: a failure while the
    * BUILDER'S OWN PLAN executes — constructing the frame, or inside the
    * memo write that runs it (including a rare sink-side failure
    * mid-write, e.g. disk filling DURING the job) — PROPAGATES, exactly as
    * the in-memory tier would, because re-running the same failing plan
    * in-memory could only fail again after doubling the cost. Only
    * failures in the durable TIER itself — an unwritable root (fails
    * before the build starts), or a post-build publish/read-back error —
    * log and fall back to the already-built in-memory frame; never to a
    * wrong result.
    */
  def durable(spark: SparkSession, sfDir: String, key: String)(
      build: => DataFrame): DataFrame =
    if (!sys.props.get("graft.memo.durable").contains("true") ||
        !graft.lake.DurableCache.trusted)
      apply(spark, key)(build)
    else apply(spark, key) {
      // evaluated at most once: if the publish or read-back fails AFTER
      // the build ran, the fallback returns the already-built frame
      // instead of re-running the most expensive builds in the codebase
      var built: DataFrame = null
      var buildStarted = false
      var writeFailed = false
      try {
        val t0 = System.nanoTime()
        val dest = graft.lake.DurableCache.publish(spark, sfDir, key) { tmp =>
          buildStarted = true
          built = build
          // the write EXECUTES the builder's plan: a failure here is
          // (almost always) the plan's own, not the durable tier's —
          // serving `built` in-memory would just re-execute the same
          // failing plan in the consumer's action. Flag it so the catch
          // below propagates instead. Trade-off, documented: a rare
          // sink-side failure mid-write (disk fills DURING the job — an
          // unwritable root fails earlier, before buildStarted) also
          // propagates rather than rebuilding.
          try built.write.parquet(tmp)
          catch { case e: Throwable => writeFailed = true; throw e }
          // the cache root is a local directory (DurableCache.trustedRoot)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(tmp, SchemaSidecar), allNullable(built.schema).json)
        }
        if (buildStarted) System.err.println(f"[memo] published durable " +
          f"$key in ${(System.nanoTime() - t0) / 1e9}%.2f s")
        else System.err.println(s"[memo] durable hit for $key")
        // every entry under the current code fingerprint has its sidecar; a
        // missing one is a corrupt entry and takes the fallback below
        val schema = org.apache.spark.sql.types.DataType.fromJson(
          java.nio.file.Files.readString(java.nio.file.Paths.get(dest, SchemaSidecar)))
        spark.read.schema(schema.asInstanceOf[org.apache.spark.sql.types.StructType])
          .parquet(dest)
      } catch {
        // NonFatal only: OOM/interrupt must propagate, not trigger a
        // silent full rebuild
        case scala.util.control.NonFatal(e) =>
          // if BUILD itself threw — while constructing the frame (started,
          // produced nothing) or while the write EXECUTED its plan
          // (writeFailed) — the failure is the builder's, not the durable
          // tier's: propagate exactly like the in-memory tier would
          // instead of re-invoking the most expensive builds in the
          // codebase for a second identical crash (builds are lazy, so
          // the plan usually blows up inside write.parquet with
          // built != null)
          if (buildStarted && (built == null || writeFailed)) throw e
          System.err.println(s"[memo] durable tier failed for $key " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
            (if (built != null) "serving the built frame in-memory"
             else "building in-memory"))
          if (built != null) built else build
      }
    }

  private val SchemaSidecar = "_graft_schema.json"

  /** Recursive nullable-everywhere copy (Spark's own asNullable is
    * private): the parquet reader reports nullable columns regardless, so
    * the sidecar schema must match or the scan would trust a nullability
    * the files cannot prove.
    */
  private def allNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = allNullable(f.dataType), nullable = true)))
      case a: ArrayType =>
        ArrayType(allNullable(a.elementType), containsNull = true)
      case m: MapType =>
        MapType(allNullable(m.keyType), allNullable(m.valueType),
          valueContainsNull = true)
      case other => other
    }
  }

  /** The keys currently memoized for `spark` — test-only introspection
    * (Round15OpsSpec pins that the q348/q385 pair populates exactly ONE
    * shared family rather than rebuilding per resolver).
    */
  private[graft] def cachedKeys(spark: SparkSession): Set[String] = {
    import scala.jdk.CollectionConverters._
    sessionTables(spark).keySet().asScala.map(_.name).toSet
  }

  /** Drop (and unpersist) every memoized table of `spark` — for sessions
    * that rewrite the data under a previously-memoized sfDir in place.
    */
  def invalidate(spark: SparkSession): Unit = {
    val tables = bySession.synchronized(bySession.remove(spark))
    if (tables != null) tables.forEach { (_, df) =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
    }
  }
}
