package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Tables}
import graft.functions.{Hashing, Text}

/** Document deduplication at corpus scale — exact, MinHash-LSH, SimHash,
  * and n-gram-Jaccard. These are the training-data-pipeline operators the
  * reference lacks but a 100 TB corpus needs.
  *
  * Scale design:
  *  - exact dedup is one hash-shuffle on the content hash;
  *  - MinHash-LSH replaces the O(n²) pair space with band-bucket joins
  *    (shuffle keyed on (band, bandKey) — only same-bucket docs ever meet);
  *  - SimHash candidates use the pigeonhole chunk-join (hamming ≤ k pairs
  *    must agree on ≥1 of k+1 chunks), again equality-join-shaped;
  *  - plain shingle-Jaccard is the exact verifier applied to candidate
  *    pairs, and is exposed standalone for small/blocked inputs only.
  */
object Dedup {

  /** Shared helper caches (shingle sets, signatures, fingerprints) go
    * through SessionMemo keyed by the plan: repeated calls share ONE
    * CacheManager registration (a bare persist per call spammed "already
    * cached" warnings), and eviction/invalidate can release them.
    */
  private def materialized(df: DataFrame): DataFrame =
    SessionMemo.ofPlan("dedupMaterialized", df)

  /** Exact duplicate groups by md5 content hash: one row per distinct
    * content with its canonical (min) doc id and multiplicity.
    */
  def exactGroups(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))

  /** NORMALIZED exact dedup (the C4 recipe): lowercase, strip everything
    * but [a-z0-9 ], squeeze runs of spaces, trim — then group by the md5
    * of the normal form. Catches the trivially-reformatted duplicates
    * (case, punctuation, whitespace) raw [[exactGroups]] misses while
    * staying one hash-shuffle cheap; per document it reports the group's
    * canonical id and whether THIS doc is a normalized duplicate of an
    * earlier one. Same map-side-hash + single-shuffle shape as exact
    * dedup — the normalization is a codegen'd regexp chain in the scan
    * projection.
    */
  def normalizedDedup(spark: SparkSession, sfDir: String): DataFrame =
    // documentsSpread: the regex-normalize + md5 pass is compute-bound
    // and the one-split gate scan would run it single-task
    normalizedDedupOf(Tables.documentsSpread(spark, sfDir))

  /** [[normalizedDedup]] over an arbitrary (doc_id, text) frame. */
  def normalizedDedupOf(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    // localCheckpoint: TWO consumers read the hash frame (the canonical
    // groups and the join-back) — without it each re-runs the normalize
    // + md5 per doc (the q87 scored-frame discipline; two narrow columns)
    val hashed = documents
      .select(col("doc_id"), md5(norm).as("norm_hash"))
      .localCheckpoint()
    val groups = hashed.groupBy(col("norm_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_doc_id"))
    hashed.join(groups, "norm_hash")
      .select(col("doc_id"), col("norm_hash"), col("n_docs"),
        col("canonical_doc_id"),
        (col("doc_id") =!= col("canonical_doc_id")).cast("int").as("is_duplicate"))
  }

  /** doc_id → distinct 3-gram shingle set, exploded. Unlike
    * [[shingleSetOf]] this per-doc form uses `array_distinct` instead of
    * a global `.distinct()`: sfDir doc_ids are unique by construction, so
    * (doc_id, shingle) duplicates can only arise WITHIN a document — and
    * skipping the distinct shuffle keeps the spread (pinned-count)
    * partitioning all the way into the persisted cache, which the
    * AQE-coalesced distinct otherwise collapses to ONE partition that
    * every downstream map stage then reads serially (StageMetrics r13:
    * q23's three cache-reading pipelines ran 2.9-5.1 s single-task).
    */
  private def shingleSet(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documentsSpread(spark, sfDir)
      .select(col("doc_id"),
        explode(array_distinct(Text.shingles(col("text"), 3))).as("shingle"))

  /** [[shingleSet]] over an arbitrary (doc_id, text) frame. */
  private def shingleSetOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(Text.shingles(col("text"), 3)).as("shingle"))
      .distinct()

  /** Exact shingle-Jaccard of candidate (doc1, doc2) pairs — the shared
    * verification tail of [[minhashPairs]] and [[jaccardPairsPrefix]]:
    * join each side back to the full shingle table, count the common
    * shingles, and keep pairs at or above the (6-dp-rounded) threshold.
    */
  private def verifiedJaccard(candidates: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    exactJaccardOf(candidates, sh)
      .where(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))

  /** Exact shingle Jaccard for every candidate pair, UNthresholded (pairs
    * with zero common shingles drop out — the inner join).
    */
  private def exactJaccardOf(candidates: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    val inter = candidates
      .join(sh.withColumnRenamed("doc_id", "doc1").withColumnRenamed("shingle", "s1"), Seq("doc1"))
      .join(sh.withColumnRenamed("doc_id", "doc2").withColumnRenamed("shingle", "s2"), Seq("doc2"))
      .where(col("s1") === col("s2"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_shingles", "n1"), Seq("doc1"))
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_shingles", "n2"), Seq("doc2"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")), 6))
      .select(col("doc1"), col("doc2"), col("jaccard"))
  }

  /** All pairs with exact shingle-Jaccard ≥ threshold, via a shingle
    * equality self-join. Exact but quadratic in the worst case — at 100 TB
    * use [[minhashPairs]] and keep this as the verifier. A hot-shingle cap
    * (drop shingles appearing in > maxShingleFreq docs) bounds the join
    * blow-up the way stopword filtering does, and `maxPairsPerShingle` is
    * the fail-fast backstop behind it: raising `maxShingleFreq` past the
    * point where one shingle's in-place pair enumeration would materialize
    * more than the pair budget inside a single row raises an actionable
    * error instead of a silent per-task memory spike / OOM (same policy as
    * RangeJoinRewrite's bucket guard).
    */
  def jaccardPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8, maxShingleFreq: Long = 1000L,
      maxPairsPerShingle: Long = 500000L): DataFrame = {
    // the distinct shingle set feeds four branches of this DAG (freq filter,
    // both join sides, sizes); cache it so it computes once. persist (not
    // localCheckpoint): lazy — building the DataFrame runs no jobs — and
    // fault-tolerant (lineage recomputes lost blocks on a real cluster)
    val sh = materialized(shingleSet(spark, sfDir))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    // pair generation by collect-and-enumerate instead of a self-join: one
    // groupBy(shingle) gathers each shingle's (sorted) doc list — bounded
    // by the hot-shingle cap — and ordered pairs are enumerated in-place
    // with array lambdas. Same pairs as the equality self-join, one fewer
    // shuffle of the full shingle set.
    val pairsOrFail = when(
      // n·(n−1) as BIGINT (an int multiply would wrap first) vs 2·budget
      size(col("ds")).cast("long") * (size(col("ds")) - 1) > 2L * maxPairsPerShingle,
      raise_error(format_string(
        s"jaccardPairs: shingle in %d docs -> %d candidate pairs, over the " +
          s"$maxPairsPerShingle-pair budget for one shingle. Use minhashPairs " +
          s"(LSH) for unblocked corpora, or lower maxShingleFreq / raise " +
          s"maxPairsPerShingle deliberately.",
        size(col("ds")),
        (size(col("ds")).cast("long") * (size(col("ds")) - 1) / lit(2)).cast("long")))
        .cast("array<struct<doc1:bigint,doc2:bigint>>"))
      .otherwise(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)),
          |    y -> struct(x AS doc1, y AS doc2))))""".stripMargin))
    val inter = sh.groupBy(col("shingle"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")).between(2, maxShingleFreq))
      .select(explode(pairsOrFail).as("p"))
      .select(col("p.doc1"), col("p.doc2"))
      .groupBy(col("doc1"), col("doc2"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_shingles", "n1"), Seq("doc1"))
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_shingles", "n2"), Seq("doc2"))
      .withColumn("jaccard",
        round(col("n_common").cast("double") / (col("n1") + col("n2") - col("n_common")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("doc1"), col("doc2"), col("jaccard"))
  }

  /** Exact shingle-Jaccard pairs via prefix filtering — the AllPairs /
    * PPJoin family (Bayardo et al., WWW 2007; Xiao et al., WWW 2008) — the
    * corpus-scale replacement for [[jaccardPairs]]'s capped quadratic
    * self-join. Same exact output, with no frequency cap and no pair
    * budget:
    *
    *  1. order every document's shingle set by ascending global document
    *     frequency, rarest first ((df, shingle) is a deterministic total
    *     order);
    *  2. emit only each document's PREFIX — its first
    *     n − ⌈t/(1+t)·n⌉ + 1 sorted shingles. Any pair with J ≥ t shares a
    *     prefix shingle: J ≥ t ⟹ |x∩y| ≥ ⌈t/(1+t)·(|x|+|y|)⌉, which
    *     exceeds |x's suffix| + |y's suffix| = (⌈t/(1+t)·|x|⌉−1) +
    *     (⌈t/(1+t)·|y|⌉−1), so by pigeonhole some common shingle sits in
    *     BOTH prefixes;
    *  3. equality-join the prefixes on the shingle, pruned by the length
    *     filter (min(n1,n2) ≥ t·max(n1,n2), else J < t) and the PPJoin
    *     positional filter (a shared shingle at sorted positions p1/p2
    *     bounds the overlap by 1 + min(n1−p1, n2−p2); sound because for a
    *     true pair the SMALLEST common shingle lies in both prefixes with
    *     no common shingle before it, and `distinct` keeps a pair if any
    *     one generating shingle survives);
    *  4. exact-verify the surviving candidates with the full Jaccard
    *     ([[verifiedJaccard]]).
    *
    * All pruning thresholds carry a 1e-9 slack and the float comparisons
    * avoid ceil(): a float wobble can only ADMIT an extra candidate (then
    * discarded by the exact verify), never drop a true pair.
    *
    * Scale shape: hot shingles (high df) sort to the END of every document
    * and so almost never land in a prefix — the df² blow-up that forces
    * [[jaccardPairs]]' hot-shingle cap disappears by construction instead
    * of by fiat. Every shuffle is equality-keyed: shingle for the df count
    * and the candidate join, doc_id for the per-doc sort (one
    * collect_list aggregation, no window) and the verify rollup.
    */
  def jaccardPairsPrefix(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame =
    // memoized: the verified pair list is near-dup-sized and serves as the
    // exact-Jaccard TRUTH SET for the q223 band sweep and the q241 simhash
    // sweep as well as the q73 gate — one session computes it once
    SessionMemo.durable(spark, sfDir, s"jaccardPairsPrefix|$sfDir|$threshold") {
      jaccardPairsPrefixOf(Tables.documents(spark, sfDir), threshold)
    }

  /** [[jaccardPairsPrefix]] over an arbitrary (doc_id, text) frame. */
  def jaccardPairsPrefixOf(docs: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"jaccardPairsPrefix: threshold must be in (0, 1], got $threshold")
    val sh = materialized(shingleSetOf(docs))
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // per-doc shingle list sorted rarest-first: one doc_id shuffle with
    // map-side collect_list partials — no window sort
    val sorted = sh.join(freq, "shingle")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ss"))
    val tJoint = threshold / (1.0 + threshold)
    val n = size(col("ss"))
    // ceil with a downward slack: never shorter than the exact prefix
    val prefixLen = (n - ceil(lit(tJoint) * n - lit(1e-9)) + 1).cast("int")
    val prefix = sorted
      .select(col("doc_id"), n.as("n"),
        posexplode(slice(col("ss"), lit(1), prefixLen)))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("pos"),
        col("col.shingle").as("shingle"))
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle")
          && col("a.doc_id") < col("b.doc_id")
          // length filter: an integer ≥ a real already means ≥ its ceil
          && least(col("a.n"), col("b.n")).cast("double") >=
            lit(threshold) * greatest(col("a.n"), col("b.n")) - lit(1e-9)
          // PPJoin positional filter vs the minimum overlap t/(1+t)·(n1+n2)
          && (lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos")))
            .cast("double") >= lit(tJoint) * (col("a.n") + col("b.n")) - lit(1e-9))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    verifiedJaccard(candidates, sh, threshold)
  }

  /** All exact-Jaccard pairs DECLARED as a naive theta self-join —
    * `a JOIN b ON jaccardSim(sh_a, sh_b) >= t AND a.doc_id < b.doc_id` —
    * and PLANNED as a bucketed equality join by
    * [[graft.plans.SimilarityJoinRewrite]] (explode distinct shingles →
    * join on the shared element → meet-once filter → exact re-check).
    * Same truth as [[jaccardPairsPrefix]] (no hot-shingle cap, nothing
    * dropped), demonstrating the planner-rule form of the similarity join:
    * the query says WHAT (a Jaccard threshold), the rule picks the
    * scale-safe HOW. The rule reads its conf at optimization time, so the
    * entry runs on a derived session, built once per override set
    * ([[GraftSession.derived]]: extensions inherited, runtime conf
    * isolated), exactly like the range-join entry; a new session per call
    * would recompile all its generated code.
    *
    * Scope note: the rule itself PREFIX-FILTERS (AllPairs lemma over the
    * sorted-distinct arrays — see the rule's scaladoc), so its candidate
    * stage joins on prefix-element co-occupancy, not raw element
    * co-occupancy; only the exactness re-check carries both rows' arrays,
    * and only for surviving candidates. That makes the rewritten plan the
    * production path for the full corpus, and this entry runs UNBOUNDED
    * (rounds 8-12 gated a `doc_id < 1000` window as a naive-vs-rewritten
    * demo, which kept the query policy-weak for five rounds; the
    * rule-on ≡ rule-off result and plan checks live in
    * SimilarityJoinRewriteSpec). [[jaccardPairsPrefix]] remains
    * the hand-tuned operator form (rarest-prefix order + PPJoin positional
    * filter beat the rule's value-order prefix on skewed corpora); the
    * rule is what a user who writes the theta join directly gets.
    *
    * Payload discipline: the shingle sets enter the join as 60-bit
    * md5-prefix LONGS ([[graft.functions.Hashing.stableHash60]]), not the
    * ~30-byte shingle strings — Jaccard over the hashed sets equals
    * Jaccard over the string sets unless two distinct shingles of the
    * same pair collide in 60 bits (≈10⁻¹³ per pair at these set sizes,
    * and engine-mirrored anyway since the oracle hashes identically), and
    * the arrays the rewrite's candidate stage must carry through the
    * shuffle shrink ~4×. The same trade every minhash/winnow operator in
    * this module already makes.
    */
  def jaccardPairsRewrite(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8, maxDocId: Option[Long] = None): DataFrame =
    jaccardPairsRewriteOn(GraftSession.derived(spark, SimilarityJoinRewriteConfs),
      sfDir, threshold, maxDocId)

  /** The confs [[jaccardPairsRewrite]] runs under, set on its derived
    * session before any DataFrame of it is built.
    */
  private[graft] val SimilarityJoinRewriteConfs = Map(
    "spark.graft.similarityJoinRewrite" -> "true",
    // modern size-of-null semantics — the rule (correctly) refuses to
    // rewrite under legacy size(NULL) = -1, where a null array would score
    // 1.0 against everything. Shingle arrays are never null at runtime but
    // their static nullability is conservative, so the conf is what makes
    // the rewrite provably sound here. It must hold BEFORE the DataFrame
    // is built: analysis bakes the flag into the Size nodes.
    "spark.sql.legacy.sizeOfNull" -> "false",
    // InferFiltersFromGenerate + predicate pushdown is PATHOLOGICAL here:
    // Catalyst infers `size(pfx) > 0 AND isnotnull(pfx)` from the rule's
    // prefix explode, and pushdown substitutes the prefix alias through
    // both Projects — inlining the whole shingle+md5 pipeline FOUR times
    // into a Filter below the repartition Exchange, i.e. into the
    // single-split serial scan stage (measured: 10.2 s → 2.0 s at sf0.1
    // with the rule excluded). The inferred filter is pure overhead for
    // this plan anyway — every document explodes a non-empty prefix, and
    // the Generate itself drops empty arrays.
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** [[jaccardPairsRewrite]]'s query on a session carrying [[SimilarityJoinRewriteConfs]]. */
  private[graft] def jaccardPairsRewriteOn(s: SparkSession, sfDir: String,
      threshold: Double, maxDocId: Option[Long]): DataFrame = {
    // Spread the doc table across the cluster BEFORE the shingle
    // pipeline: documents.parquet is a handful of parquet splits (one, at
    // the gate scales), so without this the per-row shingle+hash
    // projection — the dominant cost, re-evaluated by the rewrite's
    // prefix/filter stages — runs as a SINGLE serial task per side while
    // every other core idles (measured 2×1.8 s of a 4.4 s median; round-8
    // bench cold 18.5 s was this one task paying first-touch codegen too,
    // not a memoized build — no memo exists in this path). One narrow
    // shuffle of skinny (id, text) rows buys full parallelism: 4.4 →
    // 2.7 s median, 17 → 4 s cold at the r8 bound. At 100 TB the same
    // move holds: repartition a small input before a compute-heavy
    // narrow stage (a corpus-sized input already arrives in many splits).
    // EXPLICIT partition count (REPARTITION_BY_NUM): with the count left
    // to AQE, the coalescer sees ~900 KB of (id, text) rows — far below
    // the 64 MB advisory size — and folds the exchange back to ONE
    // partition, re-serializing the very stage the shuffle exists to
    // spread (measured: the whole pipeline ran as a single 5.7 s task).
    // Bytes-based coalescing is the wrong oracle for compute-bound
    // stages; pinning to the session's shuffle parallelism is the fix.
    val shufflePartitions = s.conf.get("spark.sql.shuffle.partitions").toInt
    val base = Tables.documents(s, sfDir)
    val docs = maxDocId.fold(base)(m => base.where(col("doc_id") < m))
      .repartition(shufflePartitions, col("doc_id"))
      .select(col("doc_id"),
        transform(Text.shingles(col("text"), 3),
          sh => Hashing.stableHash60(sh)).as("sh"))
    val a = docs.select(col("doc_id").as("doc1"), col("sh").as("sh1"))
    val b = docs.select(col("doc_id").as("doc2"), col("sh").as("sh2"))
    a.join(b, col("doc1") < col("doc2")
        && Text.jaccardSim(col("sh1"), col("sh2")) >= threshold)
      .select(col("doc1"), col("doc2"),
        round(Text.jaccardSim(col("sh1"), col("sh2")), 6).as("jaccard"))
  }

  /** SimHash pairs DECLARED as a naive theta self-join —
    * `a JOIN b ON bit_count(h1 ^ h2) <= d AND doc1 < doc2` — and PLANNED
    * as the pigeonhole chunk equality join by
    * [[graft.plans.HammingJoinRewrite]] (explode d+1 chunk indices → join
    * on (index, chunk value) → least-agreeing-index meet-once → exact
    * popcount re-check). Same rows as the hand-written [[simhashPairs]],
    * demonstrating the planner-rule form of the hamming join: the query
    * says WHAT (a distance threshold), the rule picks the scale-safe HOW.
    * The rule reads its conf at optimization time, so the entry runs on a
    * derived session, built once per override set
    * ([[GraftSession.derived]]: extensions inherited, runtime conf
    * isolated), exactly like the range-join and similarity-join entries;
    * a new session per call would recompile all its generated code.
    */
  def simhashPairsPlanned(spark: SparkSession, sfDir: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairsPlannedOn(GraftSession.derived(spark, HammingJoinRewriteConfs),
      sfDir, maxHamming)

  /** The confs [[simhashPairsPlanned]] runs under. */
  private[graft] val HammingJoinRewriteConfs = Map("spark.graft.hammingJoinRewrite" -> "true")

  /** [[simhashPairsPlanned]]'s query on a session carrying [[HammingJoinRewriteConfs]]. */
  private[graft] def simhashPairsPlannedOn(s: SparkSession, sfDir: String,
      maxHamming: Int): DataFrame = {
    // ship the sketch as a 31-bit INT: INT so the rule chunks the real
    // sketch width (on a zero-stuffed LONG the always-zero high chunks
    // would agree for every pair — correct, but all-pairs), and MASKED
    // to 31 bits because Spark's bit_count SIGN-EXTENDS integral inputs
    // (bit_count of an INT xor with the top bit set counts 32 extra sign
    // bits — 35, not 3); masking keeps every xor non-negative, so the
    // popcount is the true sketch distance
    val docs = simhashDocs(s, sfDir)
      .select(col("doc_id"),
        col("simhash").bitwiseAND(lit(0x7FFFFFFFL)).cast("int").as("h"))
    val a = docs.select(col("doc_id").as("doc1"), col("h").as("h1"))
    val b = docs.select(col("doc_id").as("doc2"), col("h").as("h2"))
    a.join(b, col("doc1") < col("doc2")
        && bit_count(col("h1").bitwiseXOR(col("h2"))) <= maxHamming)
      .select(col("doc1"), col("doc2"),
        bit_count(col("h1").bitwiseXOR(col("h2"))).cast("int").as("hamming"))
  }

  /** Near-dup graph DEGREE histogram: how many documents have exactly k
    * verified near-dup partners, with each degree's share — the
    * shape-of-duplication read that complements q180's component sizes
    * (a heavy tail here means mirror FARMS, not isolated copy pairs, and
    * predicts how hard q91's rank-based canonical selection has to work).
    *
    * Scale shape: degrees from the memoized pair list (one doc-keyed
    * aggregate of the doubled edge stream), then a degree-grain rollup.
    */
  def dedupDegreeHistogram(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val mp = minhashPairs(spark, sfDir, threshold)
    val deg = mp.select(col("doc1").as("doc_id"))
      .unionByName(mp.select(col("doc2").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    deg.groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .withColumn("n", sum(col("n_docs")).over(tot))
      .select(col("degree"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n"), 6).as("share"))
  }

  /** HEAD/TAIL boilerplate rate per source: the fraction of documents
    * whose FIRST `chunkWords` words (and, separately, LAST) also open
    * (close) at least one other document — the positional companion to
    * [[chunkShared]]'s any-position view and the aggregate confirmation
    * of q260's positional-entropy dip: shared openings are navigation/
    * license headers, shared closings are footers, and both are what a
    * template-scrub targets first.
    *
    * Determinism: pure integer counts over md5 chunk hashes.
    *
    * Scale shape: head/tail chunks are built in-row (slice, no explode);
    * each side is one hash-keyed count aggregate joined back map-side
    * (hash-bucket equality), then a |sources| rollup.
    */
  def headTailBoilerplate(spark: SparkSession, sfDir: String,
      chunkWords: Int = 8): DataFrame = {
    val w = Text.tokens(col("text"))
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(w, 1, chunkWords))).as("head_h"),
        md5(concat_ws(" ",
          when(size(w) >= chunkWords, slice(w, -chunkWords, chunkWords))
            .otherwise(w))).as("tail_h"))
      .localCheckpoint()
    def shared(c: String) = docs.groupBy(col(c)).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).select(col(c), lit(1).as(s"${c}_shared"))
    docs
      .join(shared("head_h"), Seq("head_h"), "left")
      .join(shared("tail_h"), Seq("tail_h"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("head_h_shared"), lit(0))).cast("long")
          .as("n_shared_head"),
        sum(coalesce(col("tail_h_shared"), lit(0))).cast("long")
          .as("n_shared_tail"))
      .select(col("source"), col("n_docs"), col("n_shared_head"),
        col("n_shared_tail"),
        round(col("n_shared_head").cast("double") / col("n_docs"), 6)
          .as("head_frac"),
        round(col("n_shared_tail").cast("double") / col("n_docs"), 6)
          .as("tail_frac"))
  }

  /** Near-dup pairs via WINNOWING fingerprint collisions — the MOSS-style
    * alternative to MinHash-LSH banding: candidates are document pairs
    * sharing at least one winnowed fingerprint
    * ([[graft.analytics.TextAnalytics.winnowFingerprints]]), then the
    * shared exact-Jaccard verifier confirms. The winnowing guarantee makes
    * the candidate recall interpretable: any pair sharing a run of ≥ w+2
    * consecutive shingles (≥ 6 tokens at w=4, k=3) MUST collide — so
    * contiguous-overlap near-dups (quotes, boilerplate, templated text)
    * are always candidates, while scattered single-shingle overlaps (which
    * can't reach a high Jaccard anyway) are skipped. Oracle replays the
    * same candidate pipeline (like q25's LSH oracle): fingerprint recall
    * is the operator's CONTRACT, not an approximation being hidden.
    *
    * Scale shape: fingerprints are ~2/(w+1) of the shingle set, so the
    * collision self-join moves a fraction of the LSH pipeline's bytes; all
    * shuffles equality-keyed (fingerprint, then doc pair, then shingle for
    * the verify).
    */
  def winnowPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.8): DataFrame =
    // memoized: q81 and the q113 route-agreement audit share one build
    SessionMemo.durable(spark, sfDir, s"winnowPairs|$sfDir|$threshold") {
      val fps = materialized(
        graft.analytics.TextAnalytics.winnowFingerprints(spark, sfDir))
      val candidates = fps.as("a").join(fps.as("b"),
          col("a.fingerprint") === col("b.fingerprint")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
        .distinct()
      verifiedJaccard(candidates, materialized(shingleSet(spark, sfDir)), threshold)
    }

  /** Cross-route dedup agreement audit: the verified near-dup pair sets of
    * the two independent candidate generators — MinHash-LSH banding
    * ([[minhashPairs]]) and winnowing collisions ([[winnowPairs]]) — at the
    * SAME threshold, reconciled. Both routes verify with the same exact
    * Jaccard, so a disagreement is purely a CANDIDATE-RECALL gap: LSH's
    * probabilistic band misses vs winnowing's contiguity requirement. The
    * one-row report (pair counts + each side's exclusives) is the ongoing
    * evidence for trusting either route alone at corpus scale — the
    * cross-validation a pipeline runs on a sample before picking its
    * production candidate generator.
    *
    * Scale shape: both pair sets are memoized near-dup-sized tables; the
    * reconciliation is one full outer equality join over pairs.
    */
  def dedupRouteAgreement(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val lsh = minhashPairs(spark, sfDir, threshold)
      .select(col("doc1"), col("doc2"), lit(1).as("in_lsh"))
    val win = winnowPairs(spark, sfDir, threshold)
      .select(col("doc1"), col("doc2"), lit(1).as("in_winnow"))
    lsh.join(win, Seq("doc1", "doc2"), "full")
      .agg(
        sum(coalesce(col("in_lsh"), lit(0))).cast("long").as("lsh_pairs"),
        sum(coalesce(col("in_winnow"), lit(0))).cast("long").as("winnow_pairs"),
        sum(when(col("in_lsh").isNotNull && col("in_winnow").isNotNull, 1L)
          .otherwise(0L)).as("common_pairs"),
        sum(when(col("in_winnow").isNull, 1L).otherwise(0L)).as("lsh_only"),
        sum(when(col("in_lsh").isNull, 1L).otherwise(0L)).as("winnow_only"))
  }

  /** Fingerprint CONTAINMENT pairs — the asymmetric overlap signal
    * Jaccard-thresholded dedup misses: a short document quoted wholesale
    * inside a long one shares nearly all of ITS winnow fingerprints while
    * the symmetric Jaccard stays tiny. containment = |FP(A) ∩ FP(B)| /
    * min(|FP(A)|, |FP(B)|) — the Broder containment measure on the
    * winnowed sketch, which the winnowing guarantee makes a faithful
    * proxy for shared-run coverage of the smaller document (quote /
    * mirror-with-navigation / subset detection).
    *
    * Scale shape: same fingerprint-collision equality join as
    * [[winnowPairs]] (fingerprints are ~2/(w+1) of shingle bytes), the
    * per-pair intersection count is the join's rollup, and the two size
    * lookups join a doc-sized aggregate. Nothing all-pairs.
    */
  def winnowContainment(spark: SparkSession, sfDir: String,
      threshold: Double = 0.5): DataFrame = {
    val fps = materialized(
      graft.analytics.TextAnalytics.winnowFingerprints(spark, sfDir))
    val sizes = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val inter = fps.as("a").join(fps.as("b"),
        col("a.fingerprint") === col("b.fingerprint")
          && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("n_fp", "n1"), Seq("doc1"))
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("n_fp", "n2"), Seq("doc2"))
      .withColumn("containment",
        round(col("n_shared").cast("double") / least(col("n1"), col("n2")), 6))
      .where(col("containment") >= threshold)
      .select(col("doc1"), col("doc2"), col("n_shared"), col("containment"))
  }

  /** Incremental ingest dedup: flag each BATCH document whose exact
    * content already exists in the HISTORY corpus — the check every daily
    * ingest runs before appending. The mock split carves history/batch out
    * of the corpus by doc_id parity; production calls
    * [[incrementalDedupAgainst]] with its real frames.
    */
  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    incrementalDedupAgainst(
      docs.where(col("doc_id") % 2 =!= 0),
      docs.where(col("doc_id") % 2 === 0))
  }

  /** [[incrementalDedup]] against explicit frames. Scale shape: the batch
    * is ingest-sized and the history is the 100 TB corpus, so the history
    * must never shuffle — the batch's distinct hashes broadcast into a
    * LEFT SEMI that filters the history scan map-side (output bounded by
    * batch size), and the surviving "seen" hashes broadcast back onto the
    * batch. Two batch-sized broadcasts, zero history shuffle, history
    * scanned exactly once.
    */
  def incrementalDedupAgainst(batchDocs: DataFrame,
      historyDocs: DataFrame): DataFrame = {
    val batch = batchDocs.select(col("doc_id"),
      md5(col("text")).as("content_hash"))
    val seen = historyDocs.select(md5(col("text")).as("content_hash"))
      .join(broadcast(batch.select(col("content_hash")).distinct()),
        Seq("content_hash"), "left_semi")
      .distinct()
      .withColumn("seen", lit(1))
    batch.join(broadcast(seen), Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"),
        coalesce(col("seen"), lit(0)).as("seen_before"))
  }

  /** Per-document 16-element MinHash signature, one column per element
    * (mh_0..mh_15).
    *
    * Plan shape matters here: the naive form (nested array lambdas per doc
    * row) gets its base-hash subexpression inlined by CollapseProject into
    * every permutation — md5 per shingle × k. Instead we explode shingles,
    * hash each exactly once, and take k `min` aggregates per doc: map-side
    * partial aggregation, one shuffle on doc_id, and identical subplans are
    * deduped by ReuseExchange when this feeds a self-join. Duplicate
    * shingles don't affect a min, so no distinct pass is needed.
    */
  def minhashSignatures(spark: SparkSession, sfDir: String, k: Int = 16): DataFrame =
    minhashSignaturesOf(Tables.documents(spark, sfDir), k)

  /** [[minhashSignatures]] over an arbitrary (doc_id, text) frame. */
  def minhashSignaturesOf(documents: DataFrame, k: Int = 16): DataFrame = {
    val hashed = documents
      .select(col("doc_id"), explode(Text.shingles(col("text"), 3)).as("shingle"))
      .select(col("doc_id"), Hashing.stableHash32(col("shingle")).as("h"))
    val sig = hashed.groupBy(col("doc_id"))
      .agg(min(Hashing.minhashPerm(col("h"), 0)).as("mh_0"),
        (1 until k).map(i => min(Hashing.minhashPerm(col("h"), i)).as(s"mh_$i")): _*)
    // left join keeps docs with < 3 tokens (no shingles → null signature),
    // matching the oracle's per-document output
    documents.select(col("doc_id"))
      .join(sig, Seq("doc_id"), "left")
  }

  /** MinHash-LSH near-dup pairs: 16-element signatures banded 4×4; docs
    * sharing any band bucket become candidates; candidates are verified with
    * exact shingle-Jaccard ≥ threshold. The shuffles are all equality-keyed
    * (band bucket, then shingle) — no quadratic stage at any scale.
    *
    * The result is memoized per (session, sfDir, params): the pair list
    * feeds q25 directly, the q50/q61 component resolution, and any
    * downstream keep/drop filter, so one session computes it once.
    */
  def minhashPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7, k: Int = 16, bands: Int = 4): DataFrame =
    SessionMemo.durable(spark, sfDir, s"minhashPairs|$sfDir|$threshold|$k|$bands") {
      minhashPairsUncached(spark, sfDir, threshold, k, bands)
    }

  private def minhashPairsUncached(spark: SparkSession, sfDir: String,
      threshold: Double, k: Int, bands: Int): DataFrame = {
    // the signature table is tiny (one row per doc) but its plan subtree is
    // expensive and feeds both sides of the band self-join — cache it so it
    // computes once (the static planner otherwise replicates the subtree:
    // 16 parquet scans observed un-cached)
    val docs = materialized(minhashSignatures(spark, sfDir, k))
    val candidates = bandCandidates(docs, k, bands)
    verifiedJaccard(candidates, materialized(shingleSet(spark, sfDir)), threshold)
  }

  /** LSH band-bucket candidate pairs over a (cached) signature frame: docs
    * sharing any of the `bands` band keys, as distinct (doc1 < doc2) rows.
    * All shuffles equality-keyed on (band, bkey).
    */
  private def bandCandidates(docs: DataFrame, k: Int, bands: Int): DataFrame = {
    val banded = bandKeys(docs, k, bands)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
  }

  /** (doc_id, band, bkey) LSH band-key rows of a signature frame. */
  private def bandKeys(docs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    docs.select(col("doc_id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          Hashing.bandKeyFromCols(((b * rows) until ((b + 1) * rows))
            .map(i => col(s"mh_$i"))).as("bkey"))): _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
  }

  /** Incremental NEAR-dup check — the [[incrementalDedupAgainst]] recipe
    * lifted from exact content hashes to MinHash near-dups: each BATCH
    * document is banded, history documents sharing any band key become
    * candidates, and candidates verify at exact shingle Jaccard ≥
    * `threshold`. Output: the (batch_doc, history_doc, jaccard) hit list
    * a daily ingest uses to drop near-dups of already-owned content.
    *
    * Scale shape — the q83 contract: the 100 TB HISTORY never shuffles.
    * The batch's band keys (ingest-sized ×4) broadcast into a LEFT SEMI
    * that filters the history's band stream map-side; the surviving
    * history candidates (bounded by batch collisions) meet the broadcast
    * batch bands again for pairing, and only those pairs touch shingle
    * sets for the verify. History is scanned twice (bands + candidate
    * shingles), shuffled never; doc-id spaces of the two frames must be
    * disjoint (the mock parity carve guarantees it).
    */
  def incrementalNearDup(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    // memoized durably: the parity-carve hit list is deterministic in
    // (sfDir, threshold) and its history-side signature/shingle builds
    // were the single largest prebuild cost on the r11 driver host (64 s)
    SessionMemo.durable(spark, sfDir, s"incrementalNearDup|$sfDir|$threshold") {
      val docs = Tables.documents(spark, sfDir)
      incrementalNearDupAgainst(
        docs.where(col("doc_id") % 2 =!= 0),
        docs.where(col("doc_id") % 2 === 0), threshold)
    }

  /** [[incrementalNearDup]] against explicit frames. */
  def incrementalNearDupAgainst(batchDocs: DataFrame, historyDocs: DataFrame,
      threshold: Double = 0.7, k: Int = 16, bands: Int = 4): DataFrame = {
    val bBand = materialized(bandKeys(minhashSignaturesOf(batchDocs, k), k, bands)
      .where(col("bkey").isNotNull))
    val hBand = bandKeys(minhashSignaturesOf(historyDocs, k), k, bands)
    val hCand = hBand
      .join(broadcast(bBand.select(col("band"), col("bkey")).distinct()),
        Seq("band", "bkey"), "left_semi")
    val pairs = hCand.as("h")
      .join(broadcast(bBand).as("b"),
        col("h.band") === col("b.band") && col("h.bkey") === col("b.bkey"))
      .select(col("b.doc_id").as("doc1"), col("h.doc_id").as("doc2"))
      .distinct()
    val sh = materialized(
      shingleSetOf(batchDocs.unionByName(historyDocs)))
    exactJaccardOf(pairs, sh)
      .where(col("jaccard") >= threshold)
      .select(col("doc1").as("batch_doc"), col("doc2").as("history_doc"),
        col("jaccard"))
  }

  /** Signature-estimated Jaccard (fraction of agreeing minhash components)
    * appended to a (doc1, doc2, ...) pair frame — two equality joins onto
    * the one-row-per-doc signature table, input columns preserved.
    */
  private def estimatedJaccard(pairs: DataFrame, sig: DataFrame, k: Int): DataFrame = {
    def side(tag: String, key: String) = sig.select(
      col("doc_id").as(key) +:
        (0 until k).map(i => col(s"mh_$i").as(s"${tag}_$i")): _*)
    val eq = (0 until k)
      .map(i => when(col(s"a_$i") === col(s"b_$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(side("a", "doc1"), "doc1")
      .join(side("b", "doc2"), "doc2")
      .select(pairs.columns.toIndexedSeq.map(col) :+
        round(eq.cast("double") / k, 6).as("est_jaccard"): _*)
  }

  /** Margin-gated near-dup pairs — the production payoff of the q97
    * estimator audit: candidates whose SIGNATURE-estimated Jaccard clears
    * `marginHigh` are accepted WITHOUT the exact shingle verify (the
    * expensive stage at 100 TB), candidates below `marginLow` are rejected
    * outright, and only the band between runs [[verifiedJaccard]] against
    * `threshold`. Output: (doc1, doc2, est_jaccard, verified) where
    * verified=0 marks margin-accepted pairs and verified=1 exact-verified
    * ones.
    *
    * Soundness contract: equals [[minhashPairs]]' pair set whenever the
    * estimator's max |est − exact| over the band candidates (measured by
    * [[minhashCandidateAudit]]) is bounded by min(marginHigh − threshold,
    * threshold − marginLow) — the audit is the evidence gate, specced on a
    * fixture. Past that bound the margins trade recall/precision for
    * skipping verify I/O, the standard corpus-scale compromise.
    *
    * Scale shape: identical candidate stage to [[minhashPairs]]; the
    * estimate is two equality joins on the one-row-per-doc signature
    * table; the exact verify — the only stage touching shingle sets —
    * now runs over the uncertain band alone.
    */
  def minhashPairsFast(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7, marginLow: Double = 0.5,
      marginHigh: Double = 0.875, k: Int = 16, bands: Int = 4): DataFrame =
    SessionMemo.durable(spark, sfDir,
        s"minhashPairsFast|$sfDir|$threshold|$marginLow|$marginHigh|$k|$bands") {
      require(marginLow <= threshold && threshold <= marginHigh,
        s"minhashPairsFast: need marginLow <= threshold <= marginHigh, " +
          s"got $marginLow / $threshold / $marginHigh")
      val docs = materialized(minhashSignatures(spark, sfDir, k))
      val est = estimatedJaccard(bandCandidates(docs, k, bands), docs, k)
      val accepted = est.where(col("est_jaccard") >= marginHigh)
        .select(col("doc1"), col("doc2"), col("est_jaccard"),
          lit(0).as("verified"))
      val uncertain = est.where(
        col("est_jaccard") >= marginLow && col("est_jaccard") < marginHigh)
      val verified = uncertain.join(
          verifiedJaccard(uncertain.select(col("doc1"), col("doc2")),
            materialized(shingleSet(spark, sfDir)), threshold)
            .select(col("doc1"), col("doc2")),
          Seq("doc1", "doc2"), "left_semi")
        .select(col("doc1"), col("doc2"), col("est_jaccard"),
          lit(1).as("verified"))
      accepted.union(verified)
    }

  /** Estimator audit over ALL band candidates — not just the survivors
    * q97 covers: (doc1, doc2, est_jaccard, jaccard, abs_err) with
    * jaccard = 0 for candidates sharing no shingle. This is the
    * calibration table for [[minhashPairsFast]]'s margins: rejecting
    * below `marginLow` is only sound if NON-pairs estimate low too, which
    * the survivor-only audit cannot witness.
    */
  def minhashCandidateAudit(spark: SparkSession, sfDir: String,
      k: Int = 16, bands: Int = 4): DataFrame =
    // memoized durably: candidate-pair-sized, deterministic, and consumed
    // by both the q126 threshold sweep and the length-band precision
    // audit — it was the largest remaining un-memoized cold (6.8 s)
    SessionMemo.durable(spark, sfDir,
        s"minhashCandidateAudit|$sfDir|$k|$bands") {
      val docs = materialized(minhashSignatures(spark, sfDir, k))
      val est = estimatedJaccard(bandCandidates(docs, k, bands), docs, k)
      est.join(
          exactJaccardOf(est.select(col("doc1"), col("doc2")),
            materialized(shingleSet(spark, sfDir))),
          Seq("doc1", "doc2"), "left")
        .select(col("doc1"), col("doc2"), col("est_jaccard"),
          coalesce(col("jaccard"), lit(0.0)).as("jaccard"))
        .withColumn("abs_err",
          round(abs(col("est_jaccard") - col("jaccard")), 6))
    }

  /** LSH candidate PRECISION by document-length band: over the
    * [[minhashCandidateAudit]] pairs, how often a band collision is a
    * true near-dup (exact Jaccard ≥ t) as a function of the SHORTER
    * member's token length — the known MinHash failure mode made
    * measurable: short documents have few shingles, their 16-element
    * signatures collide easily, and precision collapses in the bottom
    * bands. The evidence for a minimum-length gate in front of LSH.
    *
    * Scale shape: the audit table is candidate-bounded and memoized; two
    * doc-keyed joins decorate it with lengths; one ≤ 10-row band rollup.
    */
  def lshPrecisionByLength(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7, bandTokens: Int = 50): DataFrame = {
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(Text.tokens(col("text"))).cast("long").as("len"))
    minhashCandidateAudit(spark, sfDir)
      .join(lens.select(col("doc_id").as("doc1"), col("len").as("len1")), "doc1")
      .join(lens.select(col("doc_id").as("doc2"), col("len").as("len2")), "doc2")
      .groupBy(expr(s"CAST(least(9, least(len1, len2) DIV $bandTokens) AS INT)")
        .as("len_band"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= threshold, 1L).otherwise(0L)).as("n_true"))
      .withColumn("precision",
        round(col("n_true").cast("double") / col("n_candidates"), 6))
  }

  /** Character-level fuzzy dedup: exact Levenshtein distance over the LSH
    * band candidates — the edit-distance verify route beside the
    * shingle-Jaccard one ([[minhashPairs]]). Token-level Jaccard is blind
    * to within-word edits (OCR noise, typo farms, single-character
    * mutations); the edit metric catches exactly those, so the two
    * verifies disagree on instructive pairs and a curation stack wants
    * both. Output: every candidate pair with its raw edit distance,
    * lengths, the length-normalized similarity 1 − d/max(len), and a
    * near-dup flag at `flagAt` on the 6-dp-rounded similarity.
    *
    * Scale shape: candidate generation is the same banded equality join
    * as [[minhashPairs]] (signatures memoized, nothing all-pairs); the
    * O(len·len) Levenshtein runs once per CANDIDATE, not per pair of
    * documents, so the expensive kernel is collision-bounded. The two
    * text lookups are equality joins on doc_id.
    */
  def editDistancePairs(spark: SparkSession, sfDir: String,
      flagAt: Double = 0.8, k: Int = 16, bands: Int = 4): DataFrame = {
    val docs = materialized(minhashSignatures(spark, sfDir, k))
    val texts = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    bandCandidates(docs, k, bands)
      .join(texts.withColumnRenamed("doc_id", "doc1").withColumnRenamed("text", "t1"), Seq("doc1"))
      .join(texts.withColumnRenamed("doc_id", "doc2").withColumnRenamed("text", "t2"), Seq("doc2"))
      .select(col("doc1"), col("doc2"),
        levenshtein(col("t1"), col("t2")).as("edit_distance"),
        length(col("t1")).as("len1"), length(col("t2")).as("len2"))
      .withColumn("edit_similarity",
        round(lit(1.0) - col("edit_distance").cast("double") /
          greatest(col("len1"), col("len2")).cast("double"), 6))
      .withColumn("is_neardup", (col("edit_similarity") >= flagAt).cast("int"))
  }

  /** MinHash estimator audit: for every verified near-dup pair (q25), the
    * SIGNATURE-estimated Jaccard (fraction of agreeing minhash components)
    * against the exact shingle Jaccard — the measured-quality gate for the
    * sketch itself, the q67-recall idea applied to the dedup estimator. At
    * 100 TB the exact verify is the expensive stage; this audit is the
    * evidence for (or against) trusting the k/16 estimate and skipping the
    * verify for high-margin candidates.
    *
    * Scale shape: the pair list is near-dup-sized; the two signature
    * look-ups are equality joins on doc_id (the signature table is one row
    * per doc); the component comparison is in-row arithmetic. Everything
    * upstream is memoized, so the audit costs two hash joins.
    */
  def minhashEstimatorAudit(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7, k: Int = 16): DataFrame =
    estimatedJaccard(minhashPairs(spark, sfDir, threshold, k),
        minhashSignatures(spark, sfDir, k), k)
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 6))

  /** Estimator-margin histogram: the [[minhashEstimatorAudit]] pair table
    * binned by EXACT Jaccard, with per-bin mean estimate and mean absolute
    * error — the evidence chart behind choosing [[minhashPairsFast]]'s
    * accept/reject margins: bins where the estimator's error envelope
    * clears the threshold are safe to skip exact verification. One
    * candidate-table pass.
    */
  def estimatorMarginHistogram(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7, binWidth: Double = 0.05): DataFrame =
    minhashEstimatorAudit(spark, sfDir, threshold)
      .groupBy(floor(col("jaccard") / binWidth).cast("long").as("bin"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(round(col("est_jaccard") * 1e6).cast("long")).cast("double")
          / 1e6 / count(lit(1)), 6).as("mean_est"),
        round(sum(round(col("abs_err") * 1e6).cast("long")).cast("double")
          / 1e6 / count(lit(1)), 6).as("mean_abs_err"),
        max(col("abs_err")).as("max_abs_err"))

  /** Dedup threshold-sensitivity sweep: how many verified pairs each
    * candidate Jaccard threshold would keep, computed from ONE pass over
    * the band-candidate exact-Jaccard table ([[minhashCandidateAudit]]) —
    * the tuning curve an operator reads before pinning the production
    * threshold, instead of re-running the pipeline per candidate value.
    * Candidates are the LSH band collisions (banding fixed), so the sweep
    * answers "what would THIS pipeline yield at threshold t".
    *
    * Scale shape: the audit table is candidate-sized and computed once;
    * the sweep explodes each row by |thresholds| (a constant) and rolls
    * up — one small aggregate.
    */
  def dedupThresholdSweep(spark: SparkSession, sfDir: String,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame =
    minhashCandidateAudit(spark, sfDir)
      .select(col("jaccard"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
          .as("n_pairs"))

  /** Per-document 32-bit SimHash over whitespace tokens (term-frequency
    * weighted: duplicates vote once each, so no distinct). One narrow
    * projection over the scan: the codegen'd [[Hashing.simhash]] kernel
    * computes each document's sketch from its own token array, so there
    * is no token explode, no aggregate and no shuffle — `doc_id` is the
    * documents key, so the per-row result is the per-doc one. A null-text
    * document gets simhash 0, as in the DuckDB oracle.
    */
  def simhashDocs(spark: SparkSession, sfDir: String): DataFrame =
    simhashDocsOf(Tables.documents(spark, sfDir))

  /** [[simhashDocs]] over an arbitrary (doc_id, text) frame. */
  def simhashDocsOf(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      Hashing.simhash(Text.tokens(col("text"))).as("simhash"))

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, found via
    * the pigeonhole chunk join: the 32-bit hash splits into (maxHamming+1)
    * chunks; any pair within distance maxHamming must agree on at least one
    * chunk, so candidates come from an equality join on (chunk_idx, chunk
    * value) — never a cross join.
    */
  def simhashPairs(spark: SparkSession, sfDir: String, maxHamming: Int = 3): DataFrame = {
    val nChunks = maxHamming + 1
    val bitsPer = 32 / nChunks
    val docs = materialized(simhashDocs(spark, sfDir)) // feeds both join sides
    val chunked = docs.select(col("doc_id"), col("simhash"),
      explode(array((0 until nChunks).map(j =>
        struct(lit(j).as("ci"),
          (shiftright(col("simhash"), j * bitsPer) % (1L << bitsPer)).as("cv"))): _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.ci"), col("c.cv"))
    chunked.as("a").join(chunked.as("b"),
        col("a.ci") === col("b.ci") && col("a.cv") === col("b.cv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("a.simhash").as("sh1"), col("b.simhash").as("sh2"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))))
      .where(col("hamming") <= maxHamming)
      .select(col("doc1"), col("doc2"), col("hamming").cast("int").as("hamming"))
  }

  /** Embedding-cosine near-dup pairs, blocked by the label column (metadata
    * blocking: only same-label pairs are compared — the standard trick to
    * keep the pair space linear when a cheap blocking key exists).
    */
  def embeddingNearDups(spark: SparkSession, sfDir: String,
      threshold: Double = 0.3): DataFrame = {
    // embeddingsSpread: the label-blocked pair stage below is per-row
    // cosine math — serial on the one-split gate table otherwise
    val e = Tables.embeddingsSpread(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec1"), col("b.vec_id").as("vec2"),
        col("a.label").as("label"),
        round(graft.functions.Vectors.cosine(col("a.v"), col("b.v")), 4).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** Chunk-level (sub-document) duplication: split each document into
    * consecutive non-overlapping `chunkWords`-word chunks, hash each chunk,
    * and report per document how many of its distinct chunks also appear in
    * at least one OTHER document (plus the shared fraction). This is the
    * paragraph-dedup signal used to strip shared boilerplate that
    * whole-document near-dup passes miss.
    *
    * Scale shape: explode → distinct(doc, chunk-hash) → one shuffle on the
    * chunk hash for the occurrence counts, the count join reuses that same
    * exchange, and the per-doc rollup is one more hash shuffle on doc_id.
    * Chunks travel as md5 hex (32 bytes), never as text.
    */
  def chunkShared(spark: SparkSession, sfDir: String,
      chunkWords: Int = 8): DataFrame =
    chunkSharedOf(Tables.documents(spark, sfDir), chunkWords)

  /** md5 hashes of the non-overlapping `chunkWords`-word chunks of `text`,
    * as an array column (trailing partial chunk included).
    */
  private def chunkHashes(chunkWords: Int): org.apache.spark.sql.Column = {
    val w = Text.tokens(col("text"))
    val nChunks = ceil(size(w).cast("double") / chunkWords).cast("int")
    when(size(w) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => md5(concat_ws(" ", slice(w, i * chunkWords + 1, lit(chunkWords))))))
      .otherwise(array().cast("array<string>"))
  }

  /** [[chunkShared]] over an arbitrary (doc_id, text) frame. */
  def chunkSharedOf(docs: DataFrame, chunkWords: Int = 8): DataFrame = {
    // distinct: a chunk repeated INSIDE one doc counts once — cross-doc
    // sharing is the signal. Feeds both the count aggregate and the join.
    val chunks = materialized(
      docs
        .select(col("doc_id"),
          explode(chunkHashes(chunkWords)).as("chunk_hash"))
        .distinct())
    val counts = chunks.groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_docs_with_chunk"))
    chunks.join(counts, "chunk_hash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs_with_chunk") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_shared_chunks"),
        round(col("n_shared_chunks").cast("double") / col("n_chunks"), 6)
          .as("shared_frac"))
  }

  /** Cross-source near-dup matrix: DOCUMENT-level near-dup pair counts by
    * unordered source pair — which sources mirror each other's content
    * ("who is scraping whom"), the provenance complement of
    * [[sourceLeakage]]'s CHUNK-level view. Diagonal rows (source1 =
    * source2) are intra-source duplication; off-diagonal rows are
    * cross-source mirroring, the rows that decide which source to
    * down-weight in the mixture.
    *
    * Scale shape: two doc_id equality joins decorate the (already
    * candidate-bounded) pair list with sources; the matrix aggregate is
    * |sources|²-bounded — metadata-sized output no matter the corpus.
    */
  def crossSourceMatrix(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val pairs = minhashPairs(spark, sfDir, threshold)
      .select(col("doc1"), col("doc2"))
      .join(src.select(col("doc_id").as("doc1"), col("source").as("s1")), "doc1")
      .join(src.select(col("doc_id").as("doc2"), col("source").as("s2")), "doc2")
    pairs
      .select(least(col("s1"), col("s2")).as("source1"),
        greatest(col("s1"), col("s2")).as("source2"))
      .groupBy(col("source1"), col("source2"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Cross-LANGUAGE near-dup pairs: the [[minhashPairs]] candidates whose
    * endpoints carry different language labels, listed with both labels
    * and the exact Jaccard — each is either a translation/transliteration
    * pair (keep both: parallel text is valuable) or a language-label
    * error (route to [[graft.analytics.TextAnalytics.langConfusion]]'s
    * repair path). Language-blocked dedup would never score these, which
    * is exactly why they get their own audit before anyone blocks on
    * `lang`.
    *
    * Scale shape: two doc-keyed equality joins decorate the memoized pair
    * list with metadata; the filter is map-side. Output is bounded by the
    * pair list, which LSH already bounded.
    */
  def crossLangPairs(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val langs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    minhashPairs(spark, sfDir, threshold)
      .join(langs.select(col("doc_id").as("doc1"), col("lang").as("lang1")), "doc1")
      .join(langs.select(col("doc_id").as("doc2"), col("lang").as("lang2")), "doc2")
      .where(col("lang1") =!= col("lang2"))
      .select(col("doc1"), col("doc2"), col("lang1"), col("lang2"), col("jaccard"))
  }

  /** Corpus duplication-MASS rate per source: the fraction of each
    * source's TOKEN MASS sitting inside 8-word chunks that appear in ≥ 2
    * documents corpus-wide — the headline "x% of the crawl is
    * duplicated" number (the RefinedWeb/FineWeb reporting convention)
    * that q55's per-doc fractions roll up to, but mass-weighted: a
    * duplicated 10k-token mirror counts 10k, not 1. Doc frequency comes
    * from DISTINCT (doc, chunk) — in-doc repeats don't make a chunk
    * "duplicated" — while mass counts every occurrence.
    *
    * Scale shape: chunks explode map-side with the source riding along
    * (no corpus join); doc frequency is one hash-keyed aggregate; the
    * occurrence–frequency join is equality-keyed on the chunk hash (hot
    * boilerplate chunks are AQE skew-split); the rollup is
    * |sources|-keyed.
    */
  def duplicationMass(spark: SparkSession, sfDir: String,
      chunkWords: Int = 8): DataFrame =
    duplicationMassOf(Tables.documents(spark, sfDir), chunkWords)

  /** [[duplicationMass]] over an arbitrary (doc_id, source, text) frame. */
  def duplicationMassOf(docs: DataFrame, chunkWords: Int = 8): DataFrame =
    chunkOccWithDf(docs, chunkWords)
      .groupBy(col("source"))
      .agg(sum(col("l")).as("total_tokens"),
        sum(when(col("nd") >= 2, col("l")).otherwise(lit(0L))).as("dup_tokens"))
      .select(col("source"), col("total_tokens"), col("dup_tokens"),
        round(col("dup_tokens").cast("double")
          / col("total_tokens").cast("double"), 6).as("dup_mass_rate"))

  /** Chunk-occurrence stream annotated with corpus-wide chunk doc
    * frequency — the shared stage of [[duplicationMassOf]] (per-source
    * rollup) and [[templateScoresOf]] (per-doc rollup): every chunk
    * occurrence with its token length `l` and the number of DISTINCT
    * documents `nd` the chunk appears in.
    */
  private def chunkOccWithDf(docs: DataFrame, chunkWords: Int): DataFrame = {
    val w = Text.tokens(col("text"))
    val nChunks = ceil(size(w).cast("double") / chunkWords).cast("int")
    val chunks = when(size(w) > 0,
      transform(sequence(lit(0), nChunks - 1), i => struct(
        md5(concat_ws(" ", slice(w, i * chunkWords + 1, lit(chunkWords))))
          .as("h"),
        size(slice(w, i * chunkWords + 1, lit(chunkWords))).cast("long")
          .as("l"))))
      .otherwise(array().cast("array<struct<h:string,l:bigint>>"))
    val occ = materialized(docs
      .select(col("doc_id"), col("source"), explode(chunks).as("c"))
      .select(col("doc_id"), col("source"), col("c.h").as("h"),
        col("c.l").as("l")))
    val df = occ.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
    occ.join(df, "h")
  }

  /** Per-document template score: the fraction of a doc's token mass
    * sitting in corpus-shared chunks (df ≥ 2) — [[duplicationMass]]'s
    * rate read at DOC grain, so the mirror/boilerplate culprits are
    * named instead of aggregated away. `is_template` flags docs whose
    * shared mass reaches one half, decided in INTEGER arithmetic
    * (2·dup ≥ total) so the flag cannot drift across engines.
    *
    * Scale shape: identical to [[duplicationMass]] (one hash-keyed df
    * aggregate, equality-keyed occurrence–frequency join) with the
    * rollup keyed on (doc, source) instead of source.
    */
  def templateScores(spark: SparkSession, sfDir: String,
      chunkWords: Int = 8): DataFrame =
    templateScoresOf(Tables.documents(spark, sfDir), chunkWords)

  /** [[templateScores]] over an arbitrary (doc_id, source, text) frame. */
  def templateScoresOf(docs: DataFrame, chunkWords: Int = 8): DataFrame =
    chunkOccWithDf(docs, chunkWords)
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("l")).as("total_tokens"),
        sum(when(col("nd") >= 2, col("l")).otherwise(lit(0L))).as("dup_tokens"))
      .select(col("doc_id"), col("source"), col("total_tokens"),
        col("dup_tokens"),
        round(col("dup_tokens").cast("double")
          / col("total_tokens").cast("double"), 6).as("template_score"),
        (col("dup_tokens") * 2 >= col("total_tokens")).cast("int")
          .as("is_template"))

  /** Cross-source leakage matrix: for every source pair, how many distinct
    * chunks appear in BOTH sources — the monitoring aggregate that catches
    * one ingest feed replicating another (mirrors, scrapes of scrapes)
    * before near-dup dedup has to pay for it.
    *
    * Scale shape: one pass derives the distinct (source, chunk) table (the
    * source column rides the explode — no join against the corpus), then a
    * self-join on the chunk hash; both sides are the same shuffle
    * (ReuseExchange) and a chunk meets at most |sources|² pairs, so the
    * join output is bounded by n_chunks · |sources|², never corpus².
    */
  def sourceLeakage(spark: SparkSession, sfDir: String,
      chunkWords: Int = 8): DataFrame = {
    val ch = Tables.documents(spark, sfDir)
      .select(col("source"), explode(chunkHashes(chunkWords)).as("chunk_hash"))
      .distinct()
    ch.as("a").join(ch.as("b"),
        col("a.chunk_hash") === col("b.chunk_hash")
          && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source1"), col("b.source").as("source2"))
      .agg(count(lit(1)).as("n_shared_chunks"))
  }

  /** LSH banding S-curve characterization: for each way of splitting the
    * 16-permutation signature into (bands × rows) — (16×1), (8×2),
    * (4×4), (2×8) — the candidate-pair volume and its recall/precision
    * against the EXACT Jaccard-≥-threshold truth (the q73 PPJoin pairs).
    * This is the tuning table behind every LSH deployment: more bands =
    * higher recall and more candidates to verify (the S-curve
    * 1−(1−s^r)^b steepens leftward), and the measured trade-off on YOUR
    * corpus — not the textbook curve — is what picks the config. The
    * production (4×4) choice of q25 becomes a defended number.
    *
    * Scale shape: signatures and the truth set are the memoized q24/q73
    * stages; each config is one band-key equality self-join (the q25
    * shape) plus broadcast-sized one-row aggregates; configs union as
    * four independent branches.
    */
  /** SimHash threshold sweep — the q223 tuning audit for the SIMHASH
    * route: for every hamming distance d ≤ 3 over the pigeonhole
    * candidates, how many pairs sit at that distance, how many are true
    * near-dups under the exact shingle-Jaccard truth set, the per-distance
    * precision, and the cumulative recall of accepting everything up to d.
    * This is the evidence for choosing the hamming cutoff: token-level
    * simhash and shingle-level Jaccard measure different things, and the
    * distance where precision collapses is where the 32-bit sketch stops
    * being a Jaccard proxy.
    *
    * Scale shape: candidates come from the chunk equality join (q27's
    * shape, never all-pairs); the truth join is pair-keyed; the rollup is
    * 4 rows, and the cumulative window runs over those 4 rows only.
    */
  def simhashThresholdSweep(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val pairs = simhashPairs(spark, sfDir, maxHamming = 3)
    val truth = jaccardPairsPrefix(spark, sfDir, threshold)
      .select(col("doc1"), col("doc2"), lit(1L).as("hit"))
      .localCheckpoint()
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val byD = pairs.join(truth, Seq("doc1", "doc2"), "left")
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_true"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("hamming"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    byD.crossJoin(broadcast(nTruth))
      .withColumn("cum_true", sum(col("n_true")).over(w))
      .select(col("hamming"), col("n_pairs"), col("n_true"),
        round(col("n_true").cast("double") / col("n_pairs"), 6)
          .as("precision"),
        round(col("cum_true").cast("double") / col("n_truth"), 6)
          .as("cum_recall"))
  }

  /** Longest-common-PREFIX profile of the near-dup candidate pairs: how
    * many leading tokens each pair shares, and what fraction of the
    * shorter member that is. Near-dup families split into regimes a
    * Jaccard score alone cannot distinguish: templated pages share a long
    * header then diverge (high lcp_frac), while shuffled/re-ordered
    * mirrors share vocabulary but diverge immediately (lcp ≈ 0) — the
    * signal that picks between span-level excision and whole-doc dedup
    * as the remediation.
    *
    * Determinism: the first-mismatch scan is exact integer arithmetic
    * over the token arrays; one rounded division.
    *
    * Scale shape: two doc-keyed equality joins decorate the (LSH-bounded)
    * pair list with token arrays; the LCP scan is in-row (codegen'd
    * higher-order functions, no explode).
    */
  def neardupLcp(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Text.tokens(col("text")).as("w"))
    minhashPairs(spark, sfDir, threshold)
      .select(col("doc1"), col("doc2"))
      .join(toks.select(col("doc_id").as("doc1"), col("w").as("w1")), "doc1")
      .join(toks.select(col("doc_id").as("doc2"), col("w").as("w2")), "doc2")
      .withColumn("len1", size(col("w1")).cast("long"))
      .withColumn("len2", size(col("w2")).cast("long"))
      // first mismatch as MIN over mismatch positions (null-skipping min
      // is version-stable everywhere; find-first primitives differ in
      // their not-found sentinel across engines and versions)
      .withColumn("mis", expr(
        """array_min(transform(sequence(1, int(least(len1, len2))),
          |  i -> CASE WHEN element_at(w1, i) = element_at(w2, i)
          |    THEN NULL ELSE i - 1 END))""".stripMargin))
      .select(col("doc1"), col("doc2"), col("len1"), col("len2"),
        coalesce(col("mis").cast("long"), least(col("len1"), col("len2")))
          .as("lcp_tokens"))
      .withColumn("lcp_frac",
        round(col("lcp_tokens").cast("double")
          / least(col("len1"), col("len2")), 6))
  }

  /** Re-crawl redundancy curve: per doc_id decile (ingest order at crawl
    * time), the fraction of documents that near-duplicate an EARLIER
    * document — the number that tells a crawl operator how fast marginal
    * novelty decays as the crawl ages (and when to stop or re-prioritize).
    * The pair list's `doc1 < doc2` orientation makes "has an earlier
    * near-dup" exactly "appears as doc2".
    *
    * Scale shape: distinct doc2 over the memoized pair list (pair-sized),
    * one broadcast max-id, one doc-keyed aggregate to 10 rows.
    */
  def recrawlRedundancy(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val dupOfEarlier = minhashPairs(spark, sfDir, threshold)
      .select(col("doc2").as("doc_id")).distinct()
      .withColumn("dup_earlier", lit(1L))
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val mx = docs.agg(max(col("doc_id")).as("max_id"))
    docs.join(dupOfEarlier, Seq("doc_id"), "left")
      .crossJoin(broadcast(mx))
      .groupBy(expr("CAST(least(9, (doc_id * 10) DIV (max_id + 1)) AS INT)")
        .as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("dup_earlier"), lit(0L))).as("n_dup_of_earlier"))
      .withColumn("dup_frac",
        round(col("n_dup_of_earlier").cast("double") / col("n_docs"), 6))
  }

  def bandTuningSweep(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    SessionMemo.durable(spark, sfDir, s"bandTuningSweep|$sfDir|$threshold") {
      val sig = minhashSignatures(spark, sfDir, 16)
      val truth = jaccardPairsPrefix(spark, sfDir, threshold)
        .select(col("doc1"), col("doc2")).localCheckpoint()
      val nTruth = truth.agg(count(lit(1)).as("n_truth"))
      Seq((16, 1), (8, 2), (4, 4), (2, 8)).map { case (b, r) =>
        val cand = bandCandidates(sig, 16, b).localCheckpoint()
        cand.agg(count(lit(1)).as("n_candidates"))
          .crossJoin(cand.join(truth, Seq("doc1", "doc2"))
            .agg(count(lit(1)).as("n_hit")))
          .crossJoin(nTruth)
          .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
            col("n_candidates"), col("n_truth"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_truth"), 6)
              .as("recall"),
            when(col("n_candidates") === 0, lit(null).cast("double"))
              .otherwise(round(col("n_hit").cast("double")
                / col("n_candidates"), 6)).as("precision"))
      }.reduce(_ unionByName _)
    }
}
